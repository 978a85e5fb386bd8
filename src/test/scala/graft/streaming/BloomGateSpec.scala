package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class BloomGateSpec extends SparkSpec {

  test("bloomReplayBatch: exact-firsts emit unless Bloom-FP'd; re-arrivals always suppressed") {
    val out = BloomGate.bloomReplayBatch(spark, sf).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    byId.foreach { case (id, r) =>
      val emitted = r.getAs[Boolean]("emitted")
      val first = r.getAs[Boolean]("exact_first")
      // a Bloom never false-NEGATIVES: non-first docs are always suppressed
      if (!first) assert(!emitted, s"dup $id emitted")
      assert(r.getAs[Boolean]("false_drop") === (first && !emitted))
    }
    // shifted copies are never exact-first (same source, same text)
    byId.keys.filter(_ >= 100000L).foreach { id =>
      assert(!byId(id).getAs[Boolean]("exact_first"))
      assert(!byId(id).getAs[Boolean]("emitted"))
    }
    // the vast majority of uniques survive at this fill rate
    val firsts = out.filter(_.getAs[Boolean]("exact_first"))
    val dropped = firsts.count(!_.getAs[Boolean]("emitted"))
    assert(dropped.toDouble / firsts.length < 0.1,
      s"$dropped/${firsts.length} uniques false-dropped")
  }

  test("h32 equals TextFunctions.md5Hash32 on random strings") {
    val sparkS = spark
    import sparkS.implicits._
    val rnd = new scala.util.Random(32)
    val alphabet = Vector("a", "Z", "7", " ", "#", "é", "ß", "中", "\uD83D\uDE42")
    val strs = Seq("", "fp#0") ++ Seq.fill(300)(
      Seq.fill(rnd.nextInt(48))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val want = strs.toDF("s")
      .select(graft.functions.TextFunctions.md5Hash32($"s")).as[Long].collect()
    assert(strs.map(BloomGate.h32) === want.toSeq)
    // the top bit of the first byte is set on some strings: the value is
    // unsigned, never a negative int widened
    assert(want.exists(_ >= (1L << 31)))
  }

  test("runFold: split calls advance state exactly as one combined call") {
    val docs = Seq(
      StreamDoc("s", 1L, "aa"), StreamDoc("s", 2L, "bb"),
      StreamDoc("s", 3L, "aa"), StreamDoc("s", 4L, "cc"))
    val empty = Vector.fill(32)(0)
    val (o1, s1) = BloomGate.runFold(docs.take(2), empty)
    val (o2, s2) = BloomGate.runFold(docs.drop(2), s1)
    val (all, sAll) = BloomGate.runFold(docs, empty)
    assert(o1 ++ o2 === all)
    assert(s2 === sAll)
    // the duplicate fp "aa" is suppressed on re-arrival
    assert(all.map(v => v.doc_id -> v.emitted).toMap ===
      Map(1L -> true, 2L -> true, 3L -> false, 4L -> true))
  }

  test("streaming gate equals the relational replay when batches arrive in doc_id order") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = BloomGate.gatedDocs(spark, sf).as[StreamDoc]
      .collect().sortBy(_.doc_id)
    val mem = MemoryStream[StreamDoc]
    val q = BloomGate.gateStream(mem.toDS())
      .writeStream.format("memory").queryName("bloomgate")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("bloomgate").as[GateVerdict].collect()
      .map(v => v.doc_id -> v.emitted).toMap
    q.stop()
    val batch = BloomGate.bloomReplayBatch(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("emitted")).toMap
    assert(streamed === batch)
  }

  test("bloomSweep: per-m rows agree with the single-m replay; drops decay in m") {
    val out = BloomGate.bloomSweep(spark, sf).collect()
      .map(r => r.getAs[Long]("m") -> r).toMap
    assert(out.keySet === Set(64L, 512L, 4096L))
    // each m's row must equal the aggregated single-m replay
    out.foreach { case (m, r) =>
      val rep = BloomGate.bloomReplayBatch(spark, sf, m = m).collect()
      assert(r.getAs[Long]("n_docs") === rep.length.toLong)
      assert(r.getAs[Long]("n_emitted") ===
        rep.count(_.getAs[Boolean]("emitted")).toLong)
      assert(r.getAs[Long]("n_unique") ===
        rep.count(_.getAs[Boolean]("exact_first")).toLong)
      assert(r.getAs[Long]("n_false_drops") ===
        rep.count(_.getAs[Boolean]("false_drop")).toLong)
      assert(r.getAs[Long]("false_drop_bp") ===
        r.getAs[Long]("n_false_drops") * 10000L / r.getAs[Long]("n_unique"))
    }
    // the curve trends down (different m's reshuffle positions, so only
    // the ends are a safe strict comparison)
    val drops = Seq(64L, 512L, 4096L).map(out(_).getAs[Long]("n_false_drops"))
    assert(drops.last <= drops.head)
  }

  test("later micro-batches generate no code: the Bloom gate's state deserializer compiles once") {
    val sparkS = spark
    import sparkS.implicits._
    val docs = BloomGate.gatedDocs(spark, sf).as[StreamDoc].collect().sortBy(_.doc_id).take(100)
    graft.CacheGuard.release()
    val counts = CompileCounts.perBatch(spark, docs.toIndexedSeq, 20)(
      ds => CompileCounts.noopSink(BloomGate.gateStream(ds)))
    // the first micro-batches compile the plans; every later one finds
    // all of its code, the state deserializer's included, in the cache
    assert(counts.drop(1).distinct.length === 1, counts.mkString(", "))
  }
}
