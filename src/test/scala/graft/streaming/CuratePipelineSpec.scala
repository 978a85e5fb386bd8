package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class CuratePipelineSpec extends SparkSpec {

  private def key(c: CuratedDoc) =
    c.doc_id -> (c.source, c.fp, c.n_tokens, c.q_u4)

  test("stream ≡ replay: the full pipeline over micro-batches matches the declared batch query") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = CuratePipeline.pipeDocs(spark, sf).collect().sortBy(_.doc_id)
    val floors = CuratePipeline.qualityFloors(spark, sf)
    val mem = MemoryStream[PipeDoc]
    val q = CuratePipeline.curateStream(mem.toDS(), floors)
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("curated").as[CuratedDoc].collect()
      .map(key).toMap
    q.stop()
    val replay = CuratePipeline.curateReplayBatch(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("source"), r.getAs[String]("fp"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("q_u4"))).toMap
    assert(streamed === replay)
    // the stages genuinely cut: survivors are a strict subset, and the
    // per-source floor cuts docs the global token bounds alone would keep
    assert(replay.nonEmpty && replay.size < docs.length)
    val floorCut = docs.filter(d => d.doc_id < 100000L &&
      d.n_tokens >= CuratePipeline.minTokens &&
      d.n_tokens < CuratePipeline.maxTokens &&
      d.q_u4 < floors(d.source))
    assert(floorCut.nonEmpty)
    assert(floorCut.forall(d => !replay.contains(d.doc_id)))
  }

  test("restart from the checkpoint continues the Bloom state exactly — parquet sink holds each curated doc once") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-cur-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cur-ckpt").toString
    val docs = CuratePipeline.pipeDocs(spark, sf).collect().sortBy(_.doc_id)
    val floors = CuratePipeline.qualityFloors(spark, sf)
    val mem = MemoryStream[PipeDoc]
    def startQuery() = CuratePipeline.parquetAppendSink(
      CuratePipeline.curateStream(mem.toDS(), floors), out, ckpt)

    // a quarter of the feed through the first query incarnation — the
    // remainder then contains both NEW documents (fresh emissions) and
    // COPIES of pre-stop documents (state-dependent suppression)
    val (b1, b2) = docs.splitAt(docs.length / 4)
    val q1 = startQuery()
    mem.addData(b1.toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop()
    // ...the rest through a RESTARTED query recovering checkpointed
    // Bloom words: re-arrivals whose first copy passed before the stop
    // must STAY suppressed (state survived), nothing re-emits (offsets
    // survived), and the final table equals the one-shot replay
    val q2 = startQuery()
    mem.addData(b2.toIndexedSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val written = spark.read.parquet(out).as[CuratedDoc].collect()
    assert(written.map(_.doc_id).distinct.length === written.length)
    val replay = CuratePipeline.curateReplayBatch(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("source"),
        r.getAs[String]("fp"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("q_u4"))).toMap
    assert(written.map(key).toMap === replay)
    // the restart did NEW work (post-cut bases emitted) AND demonstrably
    // RECOVERED the Bloom words: copies of pre-stop documents arrive
    // after the restart, and suppressing them requires the pre-stop
    // state — a fresh (lost) Bloom would have emitted every
    // filter-passing copy
    val cut = b1.last.doc_id
    assert(written.exists(_.doc_id <= cut))
    assert(written.exists(_.doc_id > cut))
    val preStopCopies = b2.filter(d => d.doc_id >= 100000L &&
      d.doc_id - 100000L <= cut &&
      d.n_tokens >= CuratePipeline.minTokens &&
      d.n_tokens < CuratePipeline.maxTokens &&
      d.q_u4 >= floors(d.source))
    assert(preStopCopies.nonEmpty)
    val writtenIds = written.map(_.doc_id).toSet
    assert(preStopCopies.forall(d => !writtenIds(d.doc_id)))
  }

  test("end-to-end from the PageFeed DSv2 cursor source: pages → gate → per-source floor → parquet append") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    val fmt = classOf[graft.sources.pagefeed.PageFeedProvider].getName
    val dir = java.nio.file.Files.createTempDirectory("graft-cur-feed").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cur-po").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cur-pc").toString
    // content key = (user_id, value); n_tokens = user_id, chosen to
    // straddle the quality bounds: 20/30 pass, 90 (≥max) and 8 (<min)
    // fail; q_u4 = value·1000, gated by a PER-SOURCE floor: 'click'
    // floors at 900 (value 1.0 → 1000 passes), 'view' floors at 2500
    graft.sources.pagefeed.PageFeed.writePage(dir, 0L, Seq(
      (1L, 20L, "click", 1.0),   // emit + pass (1000 ≥ 900)
      (2L, 90L, "view", 2.0),    // emit, token-fail
      (3L, 20L, "click", 1.0)),  // re-arrival of 1's content → suppressed
      hasNext = true)
    val floors = Map("click" -> 900L, "view" -> 2500L)
    val stream = spark.readStream.format(fmt).option("path", dir).load()
      .select($"event_type".as("source"), $"event_id".as("doc_id"),
        md5(concat($"user_id".cast("string"), lit(":"),
          $"value".cast("string"))).as("fp"),
        $"user_id".as("n_tokens"),
        ($"value" * 1000).cast("long").as("q_u4"))
      .as[PipeDoc]
    val q = CuratePipeline.parquetAppendSink(
      CuratePipeline.curateStream(stream, floors), out, ckpt)
    q.processAllAvailable()
    graft.sources.pagefeed.PageFeed.writePage(dir, 1L, Seq(
      (4L, 30L, "click", 9.0),   // new content → emit + pass
      (5L, 20L, "click", 1.0),   // re-arrival across pages → suppressed
      (6L, 20L, "view", 2.0),    // tokens pass, floor-fail (2000 < 2500)
      (7L, 20L, "view", 3.0)),   // new content → emit + pass (3000 ≥ 2500)
      hasNext = false)
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(out).as[CuratedDoc].collect()
      .map(_.doc_id).sorted.toSeq
    assert(written === Seq(1L, 4L, 7L))
  }

  test("later micro-batches generate no code: the q166 pipeline's state deserializer compiles once") {
    val sparkS = spark
    import sparkS.implicits._
    val docs = CuratePipeline.pipeDocs(spark, sf).collect().sortBy(_.doc_id).take(100)
    val floors = CuratePipeline.qualityFloors(spark, sf)
    graft.CacheGuard.release()
    val counts = CompileCounts.perBatch(spark, docs.toIndexedSeq, 20)(
      ds => CompileCounts.noopSink(CuratePipeline.curateStream(ds, floors)))
    // the first micro-batches compile the plans; every later one finds
    // all of its code, the state deserializer's included, in the cache
    assert(counts.drop(1).distinct.length === 1, counts.mkString(", "))
  }
}
