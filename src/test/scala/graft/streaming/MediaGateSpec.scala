package graft.streaming

import graft.SparkSpec
import graft.operators.Multimodal
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class MediaGateSpec extends SparkSpec {

  private def verdictMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("media_id") ->
      (r.getAs[Boolean]("admitted"), r.getAs[Long]("n_prior_neardups"),
        r.getAs[Long]("first_collider"))).toMap

  test("stream ≡ replay: per-band-key GroupState fold over micro-batches matches the declared batch query") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = MediaGate.mediaDocs(spark, sf).collect().sortBy(_.media_id)
    val mem = MemoryStream[MediaDoc]
    val q = MediaGate.gateStream(mem.toDS())
      .writeStream.format("memory").queryName("mediagate")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    // the combine is batch-local in production (foreachBatch); over the
    // full accumulated table it computes the same per-media rollup
    // because every arm verdict of a row lives in one batch
    val streamed = verdictMap(
      MediaGate.admittedOfBatch(spark.table("mediagate")))
    q.stop()
    val replay = verdictMap(MediaGate.replayBatch(spark, sf))
    assert(streamed === replay)
    // the gate genuinely fires both ways: perceptual re-arrivals are
    // suppressed (the corpus is perceptually redundant by design, and
    // every brightness twin arrives after its base), some rows admit
    assert(replay.exists(!_._2._1))
    assert(replay.exists(_._2._1))
    // every suppressed row names an earlier first collider
    replay.values.filter(!_._1).foreach { case (_, n, fc) =>
      assert(n >= 1 && fc >= 0)
    }
    replay.foreach { case (mid, (adm, n, fc)) =>
      if (!adm) assert(fc < mid, s"collider of $mid not earlier")
      else assert(n === 0 && fc === -1L)
    }
  }

  test("restart from the checkpoint on RocksDB: registered band history survives, stream still ≡ replay") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = java.nio.file.Files.createTempDirectory("graft-mg-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-mg-ckpt").toString
      val docs = MediaGate.mediaDocs(spark, sf).collect().sortBy(_.media_id)
      val mem = MemoryStream[MediaDoc]
      def startQuery() = MediaGate.gateStream(mem.toDS())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[MediaVerdict], _: Long) =>
          MediaGate.admittedOfBatch(batch.toDF())
            .write.mode("append").parquet(out)
        }
        .start()
      // first half (bases) through incarnation 1; the second half holds
      // the brightness twins, whose suppression REQUIRES the pre-stop
      // band history — a fresh (lost) state would admit them all
      val (b1, b2) = docs.splitAt(docs.length / 2)
      val q1 = startQuery()
      mem.addData(b1.toIndexedSeq: _*)
      q1.processAllAvailable()
      q1.stop()
      val q2 = startQuery()
      mem.addData(b2.toIndexedSeq: _*)
      q2.processAllAvailable()
      q2.stop()
      val written = verdictMap(spark.read.parquet(out))
      assert(written.keySet.size === docs.length)
      val replay = verdictMap(MediaGate.replayBatch(spark, sf))
      assert(written === replay)
      // post-restart suppression really exercised state recovery: at
      // least one second-incarnation row collides with a FIRST-batch id
      val firstIds = b1.map(_.media_id).toSet
      assert(b2.exists(d => !written(d.media_id)._1 &&
        firstIds.contains(written(d.media_id)._3)))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("groupCap: a hot band group stops registering at the cap but later carriers are still checked") {
    // five same-fingerprint arrivals through one group at cap 3
    val docs = (1L to 5L).map(i => MediaDoc(i, "image", 0x55AAL))
    val (v1, entries) = MediaGate.runFold(docs, Seq.empty, "image:0:170", cap = 3)
    assert(entries.map(_.media_id) === Seq(1L, 2L, 3L)) // cap binds
    // arrival 4 and 5 are still CHECKED against the registered three
    assert(v1.find(_.media_id == 4L).get.colliders === Seq(1L, 2L, 3L))
    assert(v1.find(_.media_id == 5L).get.colliders === Seq(1L, 2L, 3L))
    // a later micro-batch starts from the carried state
    val (v2, e2) = MediaGate.runFold(
      Seq(MediaDoc(6L, "image", 0x55ABL)), entries, "image:0:170", cap = 3)
    assert(e2.size === 3) // still at cap
    assert(v2.head.colliders === Seq(1L, 2L, 3L)) // hamming 1 ≤ 6 collides
  }

  test("video gate (q307): stream ≡ replay over the scene-signature corpus; brightness twins suppressed") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = MediaGate.videoDocs(spark, sf).collect().sortBy(_.media_id)
    assert(docs.forall(_.kind == "video"))
    val mem = MemoryStream[MediaDoc]
    val q = MediaGate.gateStream(mem.toDS())
      .writeStream.format("memory").queryName("videogate")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = verdictMap(
      MediaGate.admittedOfBatch(spark.table("videogate")))
    q.stop()
    val replay = verdictMap(MediaGate.replayVideoBatch(spark, sf))
    assert(streamed === replay)
    // video-specific ground truth: every brightness twin arrives after
    // its base at Hamming ≤ 6 of SOME earlier row (its base at worst) —
    // except where a mod-256 wrap legitimately flips > 6 signature bits;
    // at gate SF the suppressed set must dominate the twins
    val baseMax = graft.Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.max($"doc_id")).head.getLong(0)
    val twins = docs.map(_.media_id).filter(_ > baseMax)
    assert(twins.nonEmpty)
    val suppressedTwins = twins.count(id => !replay(id)._1)
    assert(suppressedTwins * 2 >= twins.length,
      s"only $suppressedTwins/${twins.length} video twins suppressed")
    assert(replay.exists(_._2._1)) // and the gate admits novel content
  }

  test("band keys route by kind and shift; verification is popcount ≤ 6 within a group") {
    // distinct kinds can never share a group even at equal hashes
    assert(MediaGate.bandKeysOf("image", 7L).toSet
      .intersect(MediaGate.bandKeysOf("audio", 7L).toSet).isEmpty)
    // image geometry: 7 disjoint arms; audio: 4 + 3 multi-probe
    assert(MediaGate.bandKeysOf("image", 0L).size === 7)
    assert(MediaGate.bandKeysOf("audio", 0L).size === 7)
    // d ≤ 6 within a shared band collides, d = 7 does not
    val base = 0L
    val d7 = (1L << 63) - (1L << 56) // 7 bits, all outside band 0's byte
    val (v, _) = MediaGate.runFold(
      Seq(MediaDoc(1L, "image", base), MediaDoc(2L, "image", d7)),
      Seq.empty, "image:0:0")
    assert(v.find(_.media_id == 2L).get.colliders.isEmpty)
    val d6 = d7 & ~(1L << 62)
    val (v2, _) = MediaGate.runFold(
      Seq(MediaDoc(1L, "image", base), MediaDoc(2L, "image", d6)),
      Seq.empty, "image:0:0")
    assert(v2.find(_.media_id == 2L).get.colliders === Seq(1L))
  }

  test("later micro-batches generate no code: the media gate's state deserializer compiles once") {
    val sparkS = spark
    import sparkS.implicits._
    val docs = MediaGate.mediaDocs(spark, sf).collect().sortBy(_.media_id).take(100)
    graft.CacheGuard.release()
    val counts = CompileCounts.perBatch(spark, docs.toIndexedSeq, 20)(
      ds => CompileCounts.noopSink(MediaGate.gateStream(ds)))
    // the first micro-batches compile the plans; every later one finds
    // all of its code, the state deserializer's included, in the cache
    assert(counts.drop(1).distinct.length === 1, counts.mkString(", "))
  }
}
