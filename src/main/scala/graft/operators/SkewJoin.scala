package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew-mitigated equi-join (scale technique, SURVEY.md §4 / builder
  * brief): when a shuffle join's key distribution is heavy-tailed, the
  * hottest keys pin whole partitions to single tasks. Salting splits each
  * fact-side key into `salts` sub-keys and replicates the (small but not
  * broadcastable) dim side once per salt, so a hot key's rows spread over
  * `salts` tasks. Join RESULTS are identical to the unsalted join — only
  * the shuffle distribution changes — which keeps the operator
  * DuckDB-oracled with plain join SQL.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`) does
  * this automatically for sort-merge joins at runtime; the explicit salt
  * remains the tool for streaming joins, aggregation skew, and engines of
  * record where the plan must be deterministic.
  *
  * MEASURED (round 11, BASELINE.md "Salting vs AQE"):
  * for BATCH equi-joins of the q38 shape the salt is a net loss — at sf1
  * it shuffles 39.4 MB vs plain SMJ's 10.2 MB (the ×salts dim
  * replication) and runs 1.8× slower than AQE-on plain SMJ, while AQE
  * splits genuinely-skewed partitions at runtime without paying the
  * replication on healthy data. Default guidance: leave batch joins to
  * AQE; reach for [[saltedJoin]] only where AQE cannot re-plan
  * (stream-stream/stateful joins, skewed aggregation keys, plans that
  * must be deterministic ahead of time).
  */
object SkewJoin {

  /** Inner equi-join `fact.factKey = dim.dimKey`, salted `salts` ways.
    * The per-row salt only routes rows (any value gives the same join
    * output), so a cheap deterministic row id hash is used. */
  def saltedJoin(fact: DataFrame, factKey: String,
                 dim: DataFrame, dimKey: String, salts: Int): DataFrame = {
    val fs = fact.withColumn("__fsalt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val ds = dim.withColumn("__dsalt",
      explode(sequence(lit(0), lit(salts - 1))))
    fs.join(ds, fs(factKey) === ds(dimKey) && fs("__fsalt") === ds("__dsalt"))
      .drop("__fsalt", "__dsalt")
  }

  /** Declared query: events (150 hot user keys — every key is skewed
    * relative to 32 partitions) salted-joined to customer, rolled up per
    * market segment. Oracle: the plain unsalted join. */
  def skewedRevenueBySegment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val joined = saltedJoin(
      Tables.events(spark, dir), "user_id",
      Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment"),
      "c_custkey", salts = 8)
    joined
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        (sum(Relational.u4($"value").cast("decimal(38,0)")).cast("double")
          / 1e4).as("sum_value"))
      .orderBy($"c_mktsegment")
  }
}
