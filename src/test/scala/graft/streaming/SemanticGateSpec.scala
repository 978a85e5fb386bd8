package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class SemanticGateSpec extends SparkSpec {

  private def verdictMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("vec_id") ->
      (r.getAs[Boolean]("admitted"), r.getAs[Long]("n_prior_semdups"),
        r.getAs[Long]("first_collider"))).toMap

  test("stream ≡ replay: per-band GroupState fold over micro-batches matches the declared batch query") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = SemanticGate.vecDocs(spark, sf).collect().sortBy(_.vec_id)
    val mem = MemoryStream[VecDoc]
    val q = SemanticGate.gateStream(mem.toDS())
      .writeStream.format("memory").queryName("semgate")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = verdictMap(
      SemanticGate.admittedOfBatch(spark.table("semgate")))
    q.stop()
    graft.CacheGuard.release()
    val replay = verdictMap(SemanticGate.replayBatch(spark, sf))
    graft.CacheGuard.release()
    assert(streamed === replay)
    // exact-duplicate recall is GUARANTEED (identical planes → every
    // arm agrees): every id-shifted copy is suppressed at cosine 1.0,
    // with its own base as the earliest collider unless an even-earlier
    // semantic duplicate of the base exists
    val copies = docs.map(_.vec_id).filter(_ >= 100000L)
    assert(copies.nonEmpty)
    copies.foreach { id =>
      val (adm, n, fc) = replay(id)
      assert(!adm && n >= 1, s"copy $id not suppressed")
      assert(fc <= id - 100000L, s"copy $id collider $fc later than base")
    }
    // base vectors at gate SF are random — the vast majority admit
    val bases = docs.map(_.vec_id).filter(_ < 100000L)
    assert(bases.count(id => replay(id)._1) * 10 >= bases.length * 9)
  }

  test("groupCap: a hot band group stops registering at the cap but later arrivals are still checked") {
    val e = Seq.fill(8)(0.5f)
    val docs = (1L to 5L).map(i => (i, e))
    val (v1, entries) = SemanticGate.runFold(docs, Seq.empty, "0:7", cap = 3)
    assert(entries.map(_._1) === Seq(1L, 2L, 3L))
    assert(v1.find(_.vec_id == 4L).get.colliders === Seq(1L, 2L, 3L))
    assert(v1.find(_.vec_id == 5L).get.colliders === Seq(1L, 2L, 3L))
    // carried state continues the fold in a later micro-batch
    val (v2, e2) = SemanticGate.runFold(
      Seq((6L, e)), entries, "0:7", cap = 3)
    assert(e2.size === 3)
    assert(v2.head.colliders === Seq(1L, 2L, 3L))
  }

  test("banded near-dup recall measured: >=90% of perturbed twins above tau share an arm (single-probe was 20.6%)") {
    // the r15 measurement that drove the banding redesign, kept as the
    // regression pin: one dim-0-perturbed twin per corpus vector with
    // cos ≥ τ; recall = the fraction sharing at least one of the 4
    // disjoint 8-bit arms of the 32-plane sign vector. The first-cut
    // single 16-plane bucket measured 20.6% on this fixture; the
    // shipped banding measured 98.9%.
    val sparkS = spark
    import sparkS.implicits._
    val base = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect() // collect-ok: spec replay at gate SF
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    def sim32(e: Seq[Float]): Long =
      graft.functions.VectorExprs.lshCompute(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(e.toArray),
        SemanticGate.bits, true)
    val twins = base.map { case (id, e) =>
      (e, e.updated(0, e.head + 0.15f * (1 + (id % 3)).toFloat))
    }.filter { case (e, t) => SemanticGate.cosR4(e, t) >= SemanticGate.tau }
    assert(twins.length * 10 >= base.length * 5,
      s"fixture too weak: only ${twins.length}/${base.length} twins above tau")
    val collide = twins.count { case (e, t) =>
      SemanticGate.bandKeysOf(sim32(e)).toSet
        .intersect(SemanticGate.bandKeysOf(sim32(t)).toSet).nonEmpty
    }
    info(s"banded near-dup recall: $collide/${twins.length} " +
      s"(${collide * 100 / twins.length}%) perturbed twins (cos >= " +
      s"${SemanticGate.tau}) share an arm; exact dups guaranteed")
    assert(collide * 10 >= twins.length * 9,
      s"banded recall collapsed: $collide/${twins.length}")
  }

  test("cosR4 replicates the declared query's quantized-cosine arithmetic") {
    // identical vectors: exactly 1.0 after quantization
    val a = Seq(0.3f, -0.7f, 0.11f, 2.5f)
    assert(SemanticGate.cosR4(a, a) === 1.0)
    // orthogonal vectors: exactly 0.0
    assert(SemanticGate.cosR4(Seq(1f, 0f), Seq(0f, 1f)) === 0.0)
    // a boundary case lands ON the r4 grid in both engines: construct
    // cos = 0.6 → quantized 0.6 exactly
    val x = Seq(3f, 4f); val y = Seq(1f, 0f) // cos = 3/5
    assert(SemanticGate.cosR4(x, y) === 0.6)
    // threshold comparison is on the QUANTIZED value
    assert(SemanticGate.cosR4(x, y) < SemanticGate.tau)
  }

  test("later micro-batches generate no code: the semantic gate's state deserializer compiles once") {
    val sparkS = spark
    import sparkS.implicits._
    val docs = SemanticGate.vecDocs(spark, sf).collect().sortBy(_.vec_id).take(100)
    graft.CacheGuard.release()
    val counts = CompileCounts.perBatch(spark, docs.toIndexedSeq, 20)(
      ds => CompileCounts.noopSink(SemanticGate.gateStream(ds)))
    // the first micro-batches compile the plans; every later one finds
    // all of its code, the state deserializer's included, in the cache
    assert(counts.drop(1).distinct.length === 1, counts.mkString(", "))
  }
}
