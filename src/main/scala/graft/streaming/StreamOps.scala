package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming transforms (SURVEY.md §2.8): the reference's
  * stream-shaped structures — cursor-checkpointed incremental fetch and
  * progress accounting — map to watermarked windowed aggregation with
  * checkpointing. The transform is defined once and works on BOTH a batch
  * DataFrame and a `readStream`/MemoryStream source, which is how it is
  * unit-tested (see StreamOpsSpec) and how a production job would run it.
  */
object StreamOps {

  /** Tumbling-window event counts with a watermark: late rows beyond the
    * delay are dropped (append mode), mirroring the reference's
    * newest-event-time cursor tracking (`tweet_download.py:55–58,91`). */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermarkDelay: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window($"ts", windowLen), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        // q14 integer 1e4-units, same money discipline as the batch kit:
        // a decimal cast of a double rounds half boundaries differently
        // per engine, the quantized integer floor does not
        (sum(graft.operators.Relational.u4($"value").cast("decimal(38,0)"))
          .cast("double") / 1e4).as("sum_value"))
      .select($"window.start".as("window_start"), $"event_type",
        $"n_events", $"sum_value")
  }

  /** Per-user session windows (gap-based). `session_window` expresses this
    * built-in for BOTH batch and streaming — no custom state needed; the
    * DuckDB oracle mirrors it with gaps-and-islands SQL. Session end is
    * last-event + gap (Spark's session_window convention). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermarkDelay: String = "10 minutes",
                     streaming: Boolean = false): DataFrame = {
    import events.sparkSession.implicits._
    val in = if (streaming) events.withWatermark("ts", watermarkDelay) else events
    in.groupBy(session_window($"ts", gap).as("sw"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        date_format($"sw.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format($"sw.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        $"n_events")
  }

  /** Declared query: batch sessionization of `events` (oracle: gaps-and-
    * islands). The same transform with `streaming=true` runs on a stream
    * (see spec). */
  def sessionReport(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sessionWindows(graft.Tables.events(spark, dir))
      .orderBy($"user_id", $"session_start")
  }

  /** Streaming exact dedup: drop repeats of a key with bounded state —
    * `dropDuplicatesWithinWatermark` evicts seen-keys older than the
    * watermark, so state is O(keys per watermark window), not O(stream
    * history). The streaming twin of the batch dedup suite (DedupOps):
    * in a live training-data pipeline this is the first pass that runs
    * on ingest, with the batch MinHash/Jaccard passes running on the
    * accumulated corpus. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream interval join (attribution): each click joined to the
    * purchases of the same user landing within `horizon` AFTER it — the
    * impression→conversion shape. In streaming, BOTH sides carry
    * watermarks and the time-bound join condition lets Spark evict
    * buffered state once `click.ts + horizon` passes the purchase-side
    * watermark — state is O(events per horizon window), not O(stream).
    * The same function runs in batch (where the condition is just an
    * inequality join), which is how the DuckDB oracle checks it. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      horizon: String = "30 minutes",
                      watermarkDelay: String = "10 minutes",
                      streaming: Boolean = false): DataFrame = {
    val c = (if (streaming) clicks.withWatermark("ts", watermarkDelay) else clicks)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val p = (if (streaming) purchases.withWatermark("ts", watermarkDelay) else purchases)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    c.join(p, expr(
      s"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL $horizon"))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
  }

  /** Declared query: batch attribution of `events` clicks→purchases. */
  def attributionReport(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", lower($"event_type").as("et"), $"ts")
    attributionJoin(
        ev.filter($"et" === "click"), ev.filter($"et" === "purchase"))
      .orderBy($"click_id", $"purchase_id")
  }

  /** Stream-STATIC enrichment join — the dimension-lookup every live
    * pipeline performs on ingest (event → user profile → routing/
    * segmentation): the event stream joins a STATIC dimension that
    * Spark automatically broadcasts fresh per micro-batch, so the
    * stream side never shuffles and no join state accumulates (unlike
    * the stream-stream join above, there is nothing to watermark-evict
    * — the static side is a snapshot). The same function runs in batch,
    * which is how the q233 oracle checks it; the streaming twin is
    * spec-asserted equal on a replayed MemoryStream.
    *
    * The dimension here derives from `customer` (user_id ≡ custkey on
    * the synthetic star): segment + account sign, the attributes a
    * router keys on. Enrichment is LEFT — an event with no profile
    * survives with nulls made explicit ('unknown'), never dropped
    * (losing unmatched facts on a dimension gap is the classic silent
    * ingest bug). */
  def enrichEvents(events: DataFrame, dim: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.join(broadcast(dim), events("user_id") === dim("d_user"), "left")
      .select($"event_id", $"user_id", $"ts", $"event_type",
        coalesce($"segment", lit("unknown")).as("segment"),
        coalesce($"acct_neg", lit(false)).as("acct_neg"))
  }

  /** The user dimension: customer keyed by custkey-as-user-id. */
  def userDim(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.customer(spark, dir)
      .select($"c_custkey".as("d_user"), $"c_mktsegment".as("segment"),
        ($"c_acctbal" < 0).as("acct_neg"))
  }

  /** Declared query (q233): the enriched stream rolled to per-(segment,
    * hour) traffic — counts and exact distinct users. Batch form here;
    * the stream form (same `enrichEvents`, then the windowed rollup)
    * is spec-asserted equal on a replayed MemoryStream. */
  def enrichedSegmentReport(spark: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame = {
    import spark.implicits._
    enrichEvents(graft.Tables.events(spark, dir), userDim(spark, dir))
      .groupBy(window($"ts", "1 hour").as("w"), $"segment")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"segment", $"n_events", $"n_users")
      .orderBy($"window_start", $"segment")
  }

  /** K2/K3: incremental append sink with checkpointing — the reference's
    * per-page `to_csv(mode="a")` + cursor files (`tweet_download.py:55–60,
    * 96–100`) become a foreachBatch append writer whose resume point is
    * the stream checkpoint, not a hand-rolled token file. Started through
    * [[StreamStart.appendBatches]] (its checkpoint files). Delivery is
    * AT-LEAST-ONCE on replay: the append ignores the batch id. */
  def csvAppendSink(df: DataFrame, outPath: String,
                    checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    StreamStart.appendBatches(df, checkpointPath) { (batch, _) =>
      batch.write.options(StreamStart.rawLocalWrite).mode("append")
        .option("header", "false").csv(outPath)
    }
}
