package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class MultiModalCurateSpec extends SparkSpec {

  private def floorsDf = graft.operators.TextAnalysis
    .sourceQualityFloor(spark, sf)
    .select("source", "thr_u4")

  private def curatedMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("q_u4"))).toMap

  test("decision log: label consistency, verdict conjunction, full corpus coverage") {
    val log = MultiModalCurate.decisionLog(spark, sf).collect()
    graft.CacheGuard.release()
    val sparkS = spark
    import sparkS.implicits._
    val nArr = FullCurate.fullDocs(spark, sf).count()
    graft.CacheGuard.release()
    assert(log.length.toLong === nArr) // one verdict row per arrival
    assert(log.map(_.getAs[Long]("doc_id")).toSet.size === log.length)
    log.foreach { r =>
      def b(c: String) = r.getAs[Boolean](c)
      assert(b("curated") === (b("emitted") && b("nd_ok") && b("sem_ok") &&
        b("media_ok") && b("video_ok") && b("len_ok") && b("floor_ok")))
      val label = r.getAs[String]("dropped_by")
      assert((label == "none") === b("curated"))
      label match {
        case "exact"    => assert(!b("emitted"))
        case "neardup"  => assert(b("emitted") && !b("nd_ok"))
        case "semantic" => assert(b("emitted") && b("nd_ok") && !b("sem_ok"))
        case "media"    => assert(b("emitted") && b("nd_ok") && b("sem_ok") &&
          !b("media_ok"))
        case "video"    => assert(b("emitted") && b("nd_ok") && b("sem_ok") &&
          b("media_ok") && !b("video_ok"))
        case "length"   => assert(b("emitted") && b("nd_ok") && b("sem_ok") &&
          b("media_ok") && b("video_ok") && !b("len_ok"))
        case "floor"    => assert(b("emitted") && b("nd_ok") && b("sem_ok") &&
          b("media_ok") && b("video_ok") && b("len_ok") && !b("floor_ok"))
        case "none"     =>
      }
    }
  }

  test("the cross-modal catch: an edited re-crawl that passes every text gate dies on its unchanged media/embedding") {
    val log = MultiModalCurate.decisionLog(spark, sf).collect()
    graft.CacheGuard.release()
    def b(r: org.apache.spark.sql.Row, c: String) = r.getAs[Boolean](c)
    // exact re-arrivals: every one dies at the text exact gate, and its
    // unchanged media ALSO reads blocked (the verdicts agree)
    val re = log.filter(r => r.getAs[Long]("doc_id") >= 100000L &&
      r.getAs[Long]("doc_id") < FullCurate.editOffset)
    assert(re.nonEmpty)
    assert(re.forall(r => !b(r, "emitted")))
    assert(re.forall(r => !b(r, "media_ok")),
      "a re-arrival's identical fingerprint must collide with its base")
    // edits: new fp (pass exact); some pass the TEXT near-dup gate too
    // (heavy rewrites) — in the text-only pipeline those are ADMITTED;
    // the multi-modal chain must kill them on the unchanged media or
    // embedding. This is the composition's raison d'être.
    val edits = log.filter(_.getAs[Long]("doc_id") >= FullCurate.editOffset)
    assert(edits.nonEmpty)
    val textPassed = edits.filter(r => b(r, "emitted") && b(r, "nd_ok"))
    assert(textPassed.nonEmpty,
      "no edit passed the text gates — the cross-modal stage is vacuous")
    assert(textPassed.forall(r => !b(r, "media_ok")),
      "an edit's unchanged image/audio must collide with its base")
    assert(textPassed.forall(r => !b(r, "video_ok")))
    // every text-passing edit is dropped by a cross-modal stage
    assert(textPassed.forall(r =>
      Set("semantic", "media", "video")(r.getAs[String]("dropped_by"))))
    // and base documents are never cross-modal-suppressed by an edit
    // (bases arrive FIRST — the gate is strictly backward-looking)
    val bases = log.filter(_.getAs[Long]("doc_id") < 100000L)
    assert(bases.exists(_.getAs[Boolean]("curated")))
  }

  test("semantic verdicts: only vec-carrying arrivals can fail; re-arrivals with a vec do fail") {
    val sparkS = spark
    import sparkS.implicits._
    val log = MultiModalCurate.decisionLog(spark, sf).collect()
    graft.CacheGuard.release()
    val vecIds = graft.Tables.embeddings(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    def hasVec(id: Long) = vecIds.contains(
      if (id >= FullCurate.editOffset) id - FullCurate.editOffset
      else if (id >= 100000L) id - 100000L else id)
    log.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (!hasVec(id)) assert(r.getAs[Boolean]("sem_ok"),
        s"vec-less arrival $id failed the semantic gate")
    }
    // a re-arrival carrying its base's embedding collides at cosine 1.0
    val reWithVec = log.filter { r =>
      val id = r.getAs[Long]("doc_id")
      id >= 100000L && id < FullCurate.editOffset && hasVec(id)
    }
    assert(reWithVec.nonEmpty)
    assert(reWithVec.forall(r => !r.getAs[Boolean]("sem_ok")))
    // and bases with vecs pass (random embeddings have no cos >= 0.95
    // neighbors at fixture SF)
    val baseWithVec = log.filter { r =>
      val id = r.getAs[Long]("doc_id"); id < 100000L && hasVec(id)
    }
    assert(baseWithVec.nonEmpty)
    assert(baseWithVec.forall(_.getAs[Boolean]("sem_ok")))
  }

  test("stream ≡ replay: the fused stateful gates + batch-local combine match the declared q317 over micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = MultiModalCurate.mmDocs(spark, sf).collect().sortBy(_.doc_id)
    graft.CacheGuard.release()
    val floors = floorsDf
    val outDir = java.nio.file.Files.createTempDirectory("graft-mm-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mm-ckpt").toString
    val mem = MemoryStream[MmDoc]
    val q = MultiModalCurate.curatedStream(mem.toDS(), floors, outDir, ckpt)
    docs.grouped(math.max(1, docs.length / 3)).foreach { b =>
      mem.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = curatedMap(spark.read.parquet(outDir))
    val replay = curatedMap(MultiModalCurate.replayBatch(spark, sf))
    graft.CacheGuard.release()
    assert(streamed === replay)
    assert(streamed.nonEmpty)
  }

  test("one stateful pass per micro-batch: one operator, one state-store stage, the source read once") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = MultiModalCurate.mmDocs(spark, sf).collect().sortBy(_.doc_id).take(40)
    graft.CacheGuard.release()
    val outDir = java.nio.file.Files.createTempDirectory("graft-mm1-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mm1-ckpt").toString
    val mem = MemoryStream[MmDoc]
    val q = MultiModalCurate.curatedStream(mem.toDS(), floorsDf, outDir, ckpt)
    try {
      val stateStages = StateStages.during(spark) {
        mem.addData(docs.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      // an idle trigger before the add reports a progress with no rows
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length === 1)
      assert(batches.head.stateOperators.length === 1)
      assert(stateStages === 1)
      assert(batches.head.numInputRows === docs.length.toLong)
    } finally q.stop()
  }

  test("restart from the checkpoint on RocksDB: all five gates' state survives, stream still ≡ replay") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = MultiModalCurate.mmDocs(spark, sf).collect().sortBy(_.doc_id)
      graft.CacheGuard.release()
      val floors = floorsDf
      val outDir = java.nio.file.Files.createTempDirectory("graft-mmr-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-mmr-ckpt").toString
      val mem = MemoryStream[MmDoc]
      def startQuery() =
        MultiModalCurate.curatedStream(mem.toDS(), floors, outDir, ckpt)
      // incarnation 1 sees only originals; every later phase's
      // suppression depends on the recovered Bloom words, band
      // histories, perceptual groups, and semantic groups continuing
      // their folds where the stop left them
      val (b1, b2) = docs.splitAt(docs.count(_.doc_id < 100000L))
      assert(b2.nonEmpty)
      val q1 = startQuery()
      mem.addData(b1.toIndexedSeq: _*)
      q1.processAllAvailable()
      q1.stop()
      val q2 = startQuery()
      mem.addData(b2.toIndexedSeq: _*)
      q2.processAllAvailable()
      q2.stop()
      val streamed = curatedMap(spark.read.parquet(outDir))
      val replay = curatedMap(MultiModalCurate.replayBatch(spark, sf))
      graft.CacheGuard.release()
      assert(streamed === replay)
      // a lost exact-gate state would admit every +100000 re-arrival; a
      // lost media/semantic state would admit text-passing edits — both
      // would break the set equality above, but pin the visible symptom
      assert(!streamed.keySet.exists(id =>
        id >= 100000L && id < FullCurate.editOffset))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
