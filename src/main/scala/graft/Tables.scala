package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver's synthetic tables (TESTDATA.md), and the one
  * module that knows how a table file is laid out.
  *
  *   - A table stored as ONE parquet file is read with the schema of its
  *     footer (converted by Spark's own `readSchemaFromFooter`, so it is
  *     the schema inference would produce), read once per file and
  *     cached: a load runs no schema-inference job. A directory keeps
  *     Spark's inference.
  *   - A heavy per-row pass over the corpus reads [[fannedDocuments]],
  *     which fans an unsplittable file out right above its scan.
  *   - No loader changes the caller's session conf.
  *
  * All reads are plain parquet scans so Catalyst's column pruning and
  * predicate pushdown reach the file source (check `PushedFilters` /
  * `ReadSchema` in `.explain("formatted")`). At cluster scale these
  * directories would be partitioned datasets; the loader stays the same.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")

  /** events.ts has shipped as either parquet TIMESTAMP(NANOS) or
    * TIMESTAMP(MICROS) across driver testdata generations, so the loader
    * branches on the type of the pinned schema:
    *   - NANOS: Spark's schema inference rejects it ([PARQUET_TYPE_ILLEGAL]),
    *     so the footer schema pins it as LONG nanoseconds, truncated to
    *     microseconds with integer `div` (the ns epoch ≈ 1.7e18 exceeds
    *     double's 2^53 mantissa — float division would corrupt it).
    *   - MICROS: arrives as TIMESTAMP_NTZ (no tz flag in the file); cast to
    *     session-zoned TIMESTAMP — the session is pinned to UTC everywhere
    *     (Verify/Bench/tests), so the instant and its formatting are
    *     identical to the nanos path's `timestamp_micros` output.
    * The DuckDB oracle side truncates with date_trunc('microseconds', ts)
    * wherever sub-µs ordering could matter (a no-op on micros data). */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = load(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** [[documents]] for a heavy per-row pass (guide §2.5, repartition
    * immediately after read): a `doc_id`-hash exchange to the session
    * parallelism directly above the scan when the file is
    * [[unsplittable]] at `minRowsPerCore`, the plain scan otherwise (on
    * any real multi-file corpus). Select the pass's columns on the
    * result: column pruning narrows the scan below the exchange, and the
    * expensive projection stays above it. */
  def fannedDocuments(s: SparkSession, dir: String,
                      minRowsPerCore: Int = 1024): DataFrame =
    if (unsplittable(s, dir, "documents", minRowsPerCore))
      documents(s, dir).repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    else documents(s, dir)

  def load(s: SparkSession, dir: String, name: String): DataFrame =
    footer(s, dir, name).fold(s.read)(f => s.read.schema(schemaOf(s, f)))
      .parquet(s"$dir/$name.parquet")

  /** Footers of single-file tables, read once per file version (path,
    * modification time and length, so a rewritten file is read again). */
  private val footers = new java.util.concurrent.ConcurrentHashMap[String, Footer]()

  /** The parquet footer of `dir/name.parquet`, driver-side; None for
    * anything that is not a single readable file. */
  private def footer(s: SparkSession, dir: String, name: String): Option[Footer] =
    try {
      val p = new Path(s"$dir/$name.parquet")
      val conf = s.sessionState.newHadoopConf()
      val st = p.getFileSystem(conf).getFileStatus(p)
      if (!st.isFile) None
      else Some(footers.computeIfAbsent(
        s"${st.getPath}@${st.getModificationTime}:${st.getLen}", _ => {
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try new Footer(st.getPath, r.getFooter) finally r.close()
        }))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The Spark schema of a footer, converted under the session's parquet
    * settings as schema inference converts it, except that a
    * TIMESTAMP(NANOS) column is pinned as LONG (inference rejects it). */
  private def schemaOf(s: SparkSession, f: Footer): StructType = {
    val conf = s.sessionState.conf.clone()
    conf.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
    ParquetFileFormat.readSchemaFromFooter(f, new ParquetToSparkSchemaConverter(conf))
  }

  /** True when `dir/name.parquet` is ONE file with ONE parquet row group
    * AND holds at least `minRowsPerCore` rows per session core. The
    * layout half: Spark plans byte-range splits for such a file, but
    * parquet reads only start at row-group boundaries, so every split
    * except the one holding the row-group start produces ZERO rows and
    * each downstream per-row pass runs on one core (guide §2.5 "input
    * skew: one huge unsplittable file" — measured: the sf10b signature
    * build spent ~200 task-seconds on a single task while 31 cores sat
    * idle). The size half: fanning out costs one full-payload exchange
    * whose per-map-task shuffle-write stall was measured at ~0.5–0.7 s
    * on this host's shared disk — at 5k rows (sf0.1) that stall DOMINATES
    * the ~2 task-s serial fill it replaces (q20 in-suite 0.81 → 2.71 s
    * when ungated), while at 50k+ rows (sf1b/sf10b) the serial fill is
    * tens-to-hundreds of task-seconds and the exchange is noise. The
    * threshold is derived from the session parallelism, not a fixed
    * local constant; any multi-file or multi-row-group layout — a real
    * cluster corpus — reports false regardless of size. */
  def unsplittable(s: SparkSession, dir: String, name: String,
                   minRowsPerCore: Int = 1024): Boolean =
    footer(s, dir, name).map(_.getParquetMetadata.getBlocks).exists(rgs => rgs.size == 1 &&
      rgs.get(0).getRowCount >= s.sparkContext.defaultParallelism.toLong * minRowsPerCore)
}
