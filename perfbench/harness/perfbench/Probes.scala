package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.{native, TextFunctions}
import Harness._

/** The traced run's stand-alone layer probes, over the workload's own
  * inputs: each `Tables` loader scanned to the noop sink, and the native
  * text and vector expressions timed per row on a fixed in-memory column. */
object Probes {
  val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.region, Tables.nation, Tables.customer, Tables.supplier,
    Tables.part, Tables.orders, Tables.lineitem, Tables.events,
    Tables.documents, Tables.embeddings)

  /** Two-word phrases over the corpus vocabulary plus never-matching
    * terms: the many-keywords regime of the Aho–Corasick scan. */
  val keywords = Seq("spark vector", "merge join", "window stream",
    "vector spark", "batch window", "query merge", "stream batch",
    "join vector", "compaction", "quorum", "lineage", "snapshot isolation")

  val reps = 3

  /** Minimum over [[reps]] noop executions of `df`, in ms. */
  def timeMs(df: DataFrame): Double =
    (1 to reps).map { _ => val t0 = System.nanoTime(); noop(df); ms(t0) }.min

  /** `df` repeated until it has at least `minRows` rows, spread over
    * the session's cores and cached in memory. */
  def fixed(df: DataFrame, minRows: Long): (DataFrame, Long) = {
    val n = math.max(1L, df.count())
    val k = (minRows + n - 1) / n
    val f = df.crossJoin(df.sparkSession.range(k).withColumnRenamed("id", "rep_"))
      .drop("rep_").repartition(cores).persist(StorageLevel.MEMORY_ONLY)
    (f, f.count())
  }

  def run(spark: SparkSession, data: String, res: mutable.Map[String, Any]): Unit = {
    res("tables.scan_ms") = loaders.map(load => timeMs(load(spark, data))).sum

    val toks = TextFunctions.tokens(col("text"))
    def hashed(t: Column) = array_sort(native.xxhash64Array(array_distinct(native.wordShingles(t, 3))))
    val (docs, rows) = fixed(Tables.documents(spark, data).select(col("text"))
      .withColumn("toks", toks)
      .withColumn("sh", array_distinct(native.wordShingles(col("toks"), 3)))
      .withColumn("a", hashed(col("toks")))
      .withColumn("b", hashed(slice(col("toks"), 2, Int.MaxValue))), 60000L)
    val (vecs, vrows) = fixed(Tables.embeddings(spark, data).select(col("embedding").as("e")), 400000L)
    // per-row cost of `f` over its input column, less the bare projection
    def nsPerRow(df: DataFrame, n: Long, in: Seq[Column], f: Column): Double =
      (timeMs(df.select(f)) - timeMs(df.select(in: _*))) * 1e6 / n
    val fs = Seq(
      ("tokens", docs, rows, Seq(col("text")), toks),
      ("word_shingles", docs, rows, Seq(col("toks")), native.wordShingles(col("toks"), 3)),
      ("md5_minhash_sig", docs, rows, Seq(col("sh")), native.md5MinHashSig(col("sh"), 16)),
      ("simhash", docs, rows, Seq(col("toks")), native.simHash(col("toks"))),
      ("multi_contains", docs, rows, Seq(col("text")), native.multiContains(col("text"), keywords)),
      ("sorted_intersect_count", docs, rows, Seq(col("a"), col("b")),
        native.sortedIntersectCount(col("a"), col("b"))),
      ("vec_dot", vecs, vrows, Seq(col("e")), native.vecDot(col("e"), col("e"))))
    for ((name, df, n, in, f) <- fs) res(s"functions.$name.ns_per_row") = nsPerRow(df, n, in, f)
    docs.unpersist(true)
    vecs.unpersist(true)
  }
}
