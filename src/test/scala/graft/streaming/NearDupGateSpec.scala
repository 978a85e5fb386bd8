package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class NearDupGateSpec extends SparkSpec {

  private def verdictMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Boolean]("admitted"), r.getAs[Long]("n_prior_neardups"),
        r.getAs[Long]("first_collider"))).toMap

  test("stream ≡ replay: per-band GroupState fold over micro-batches matches the declared batch query") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = NearDupGate.sigDocs(spark, sf).collect().sortBy(_.doc_id)
    val mem = MemoryStream[SigDoc]
    val q = NearDupGate.gateStream(mem.toDS())
      .writeStream.format("memory").queryName("ndgate")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    // the combine is batch-local in production (foreachBatch); over the
    // full accumulated table it computes the same per-doc rollup because
    // every band verdict of a doc lives in one batch
    val streamed = verdictMap(
      NearDupGate.admittedOfBatch(spark.table("ndgate")))
    q.stop()
    val replay = verdictMap(NearDupGate.replayBatch(spark, sf))
    assert(streamed === replay)
    // the gate genuinely fires: every shifted exact copy is suppressed
    // (est 1.0 against its original), bases with no near-dup admit
    val suppressed = replay.filter(!_._2._1)
    assert(suppressed.nonEmpty)
    assert(docs.map(_.doc_id).filter(_ >= graft.operators.DedupOps.dupOffset)
      .forall(id => !replay(id)._1))
    assert(replay.exists(_._2._1))
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
      val out = java.nio.file.Files.createTempDirectory("graft-nd-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-nd-ckpt").toString
      val docs = NearDupGate.sigDocs(spark, sf).collect().sortBy(_.doc_id)
      val mem = MemoryStream[SigDoc]
      def startQuery() = NearDupGate.gateStream(mem.toDS())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[BandVerdict], _: Long) =>
          NearDupGate.admittedOfBatch(batch.toDF())
            .write.mode("append").parquet(out)
        }
        .start()
      // first half (all originals) through incarnation 1; the second half
      // contains the shifted copies, whose suppression REQUIRES the
      // pre-stop band history — a fresh (lost) state would admit them all
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
      val replay = verdictMap(NearDupGate.replayBatch(spark, sf))
      assert(written === replay)
      val postRestartCopies = b2.map(_.doc_id)
        .filter(_ >= graft.operators.DedupOps.dupOffset)
      assert(postRestartCopies.nonEmpty)
      assert(postRestartCopies.forall(id => !written(id)._1))
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
    // synthetic group: cap 3; five identical-signature docs then a sixth
    val sig = Seq.fill(16)(7L)
    val docs = (1L to 5L).map(i => SigDoc(i, sig))
    val (v1, entries) = NearDupGate.runFold(docs, Seq.empty, band = 0, cap = 3)
    assert(entries.map(_.doc_id) === Seq(1L, 2L, 3L))
    // doc 4 and 5 collide with the three REGISTERED docs only
    assert(v1.map(v => v.doc_id -> v.colliders.toSet).toMap ===
      Map(1L -> Set.empty[Long], 2L -> Set(1L), 3L -> Set(1L, 2L),
        4L -> Set(1L, 2L, 3L), 5L -> Set(1L, 2L, 3L)))
    // a later arrival folds against the recovered entries identically
    val (v2, entries2) =
      NearDupGate.runFold(Seq(SigDoc(9L, sig)), entries, band = 0, cap = 3)
    assert(entries2.map(_.doc_id) === Seq(1L, 2L, 3L))
    assert(v2.head.colliders.toSet === Set(1L, 2L, 3L))
    // a non-matching signature in the same group registers nothing extra
    // and collides with nothing (7 of 16 matches < matchMin)
    val other = sig.take(7) ++ Seq.fill(9)(8L)
    val (v3, _) = NearDupGate.runFold(Seq(SigDoc(10L, other)), entries, 0, 3)
    assert(v3.head.colliders.isEmpty)
  }

  test("later micro-batches generate no code: the near-dup gate's state deserializer compiles once") {
    val sparkS = spark
    import sparkS.implicits._
    val all = NearDupGate.sigDocs(spark, sf).collect().sortBy(_.doc_id)
    graft.CacheGuard.release()
    // 20 originals, then their shifted copies four times over: from the
    // second micro-batch on, every band group read has registered state
    // (state is deserialized only for a group that has some)
    val firsts = all.take(20)
    val copies = all.filter(d => firsts.exists(_.doc_id + 100000L == d.doc_id))
    assert(copies.length === firsts.length)
    val docs = firsts ++ Seq.fill(4)(copies).flatten
    val counts = CompileCounts.perBatch(spark, docs.toIndexedSeq, 20)(
      ds => CompileCounts.noopSink(NearDupGate.gateStream(ds)))
    // the first micro-batches compile the plans; every later one finds
    // all of its code, the state deserializer's included, in the cache
    assert(counts.drop(1).distinct.length === 1, counts.mkString(", "))
  }
}
