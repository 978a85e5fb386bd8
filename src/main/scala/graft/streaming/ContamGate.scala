package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.CorpusOps

/** Stream-side input row for the contamination gate. */
case class ContamDoc(source: String, doc_id: Long, text: String)

/** STREAMING CONTAMINATION GATE (q299) — the q61/q157 decontamination
  * family turned into ADMISSION CONTROL: documents arriving on a
  * stream are DROPPED when they share any 8-gram with the benchmark
  * set, so evaluation items can never leak into a training corpus that
  * is ingested continuously. Same fixture convention as q61
  * (`CorpusOps.benchMod`/`contamMod`/`contaminationCanary`): bench
  * docs hold the canary, and the contaminated train slice that also
  * carries it must be gated.
  *
  * The benchmark gram set is STATIC and small; it rides as ONE
  * broadcast map row and the verdict is a per-row higher-order filter
  * — completely STATELESS (no state store, no shuffle), so the
  * identical transform runs on a batch frame and under `writeStream`
  * in append mode (contrast [[BloomGate]], whose reference set
  * accumulates and therefore needs state). The DECLARED query is the
  * batch replay over the train slice (hash-oracled);
  * `ContamGateSpec` asserts stream ≡ batch verdict-for-verdict across
  * micro-batch boundaries.
  *
  * Scale shape: benchmark grams broadcast (evals are small); the
  * stream side is one tokenize + one per-row filter — linear,
  * embarrassingly parallel; at 100 TB the only cost is the scan. */
object ContamGate {

  /** 8-gram windows, matching the q61 contamination shingle length. */
  val gateGramN = 8

  /** The q61 corpus with its planted canary (bench docs and the
    * designed contaminated train slice). */
  def canaryDocs(spark: SparkSession, dir: String): DataFrame =
    canaryDocsWith(spark, dir, CorpusOps.benchMod)

  /** [[canaryDocs]] with an explicit bench modulus — the
    * `graft.Probe` `q299_grams_*` seam: a smaller modulus means more bench docs, i.e. a larger
    * broadcast gram set at fixed corpus size. Distinct name, explicit
    * param (the RegistryIntegritySpec overload discipline). */
  def canaryDocsWith(spark: SparkSession, dir: String,
                     benchMod: Long): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", $"doc_id",
        concat(coalesce($"text", lit("")),
          when($"doc_id" % benchMod === 0 ||
              $"doc_id" % CorpusOps.contamMod === 0,
            lit(" " + CorpusOps.contaminationCanary))
            .otherwise(lit(""))).as("text"))
  }

  /** The static benchmark gram set: every distinct 8-gram of the q61
    * bench docs (doc_id % benchMod == 0). */
  def benchmarkGrams(spark: SparkSession, dir: String): DataFrame =
    benchmarkGramsWith(spark, dir, CorpusOps.benchMod)

  /** [[benchmarkGrams]] at an explicit bench modulus (see
    * [[canaryDocsWith]]). */
  def benchmarkGramsWith(spark: SparkSession, dir: String,
                         benchMod: Long): DataFrame = {
    import spark.implicits._
    canaryDocsWith(spark, dir, benchMod)
      .filter($"doc_id" % benchMod === 0)
      .select(explode(wordShingles(tokens($"text"), gateGramN)).as("gram"))
      .distinct()
  }

  /** The gate transform: per incoming doc, count benchmark-gram hits
    * (over gram OCCURRENCES) and admit iff zero. The benchmark rides as
    * ONE broadcast map row and the verdict is a per-row higher-order
    * filter — completely STATELESS, so the same transform runs under
    * `writeStream` in append mode with no state store and no shuffle. */
  def gate(docs: DataFrame, benchGrams: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // distinct() BEFORE map_from_entries: under Spark's default
    // mapKeyDedupPolicy=EXCEPTION a duplicate gram key throws at
    // runtime, so the public API must not rely on the caller having
    // deduplicated (benchmarkGrams does, arbitrary callers may not).
    val bmap = benchGrams.distinct().agg(map_from_entries(
      collect_list(struct($"gram", lit(1L)))).as("bm"))
    docs
      .crossJoin(broadcast(bmap))
      .select($"source", $"doc_id", tokens($"text").as("tk"), $"bm")
      .select($"source", $"doc_id", size($"tk").cast("long").as("n_toks"),
        size(filter(wordShingles($"tk", gateGramN),
          g => element_at($"bm", g).isNotNull)).cast("long")
          .as("n_hit_grams"))
      .withColumn("admitted", $"n_hit_grams" === 0L)
  }

  /** Declared q299: the batch replay of the gate over the train slice
    * (everything that is not a bench doc). */
  def contamGateBatch(spark: SparkSession, dir: String): DataFrame =
    contamGateBatchWith(spark, dir, CorpusOps.benchMod)

  /** [[contamGateBatch]] at an explicit bench modulus (see
    * [[canaryDocsWith]]) — `graft.Probe`'s `q299_grams_10x` row grows
    * the broadcast gram set ~9× (mod 97 → 11) at fixed corpus size to
    * measure the claimed O(gram-set) broadcast term. */
  def contamGateBatchWith(spark: SparkSession, dir: String,
                          benchMod: Long): DataFrame = {
    import spark.implicits._
    val bench = benchmarkGramsWith(spark, dir, benchMod)
    gate(canaryDocsWith(spark, dir, benchMod)
        .filter($"doc_id" % benchMod =!= 0), bench)
      .orderBy($"doc_id")
  }
}
