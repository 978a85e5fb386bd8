package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class FullCurateSpec extends SparkSpec {

  private def curatedMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("source"), r.getAs[String]("fp"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("q_u4"))).toMap

  /** Spark jobs started, and the physical plan node names of the SQL
    * executions started (adaptive re-plans included), while `body` runs. */
  private def jobsAndPlanNodes(body: => Unit): (Int, Set[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val nodes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def walk(p: SparkPlanInfo): Unit = { nodes.add(p.nodeName); p.children.foreach(walk) }
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => walk(u.sparkPlanInfo)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftBusBridge.flushListenerBus(sc)
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (jobs.get, nodes.asScala.toSet)
  }

  private def floorsDf = graft.operators.TextAnalysis
    .sourceQualityFloor(spark, sf)
    .select("source", "thr_u4")

  test("composed gate replay: each stage genuinely cuts, and the near-dup stage works beyond the exact gate") {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val out = FullCurate.replayBatch(spark, sf)
    val ids = out.select($"doc_id").as[Long].collect().toSet
    graft.CacheGuard.release()
    assert(ids.nonEmpty)
    // exact stage: every +100000 re-arrival has an identical-fp
    // predecessor, so none survives
    assert(!ids.exists(id => id >= 100000L && id < FullCurate.editOffset))
    // near-dup stage: edited re-crawls pass the Bloom gate (new fp), so
    // any suppression among them is the near-dup gate's alone — and the
    // fixture must produce BOTH verdicts (suppressed and admitted-edit
    // would each be vacuous alone)
    val edits = FullCurate.fullDocs(spark, sf)
      .filter($"doc_id" >= FullCurate.editOffset)
    val editIds = edits.select($"doc_id").as[Long].collect().toSet
    graft.CacheGuard.release()
    assert(editIds.nonEmpty)
    val ndAdmitted = NearDupGate.replayOver(
        edits.toDF().filter(size($"sig") > 0).select($"doc_id", $"sig")
          .unionByName(FullCurate.fullDocs(spark, sf)
            .filter($"doc_id" < FullCurate.editOffset)
            .toDF().filter(size($"sig") > 0).select($"doc_id", $"sig")))
      .filter($"doc_id" >= FullCurate.editOffset)
    val suppressed = ndAdmitted.filter(!$"admitted").count()
    val admitted = ndAdmitted.filter($"admitted").count()
    graft.CacheGuard.release()
    assert(suppressed > 0, "no edit was near-dup-suppressed — stage vacuous")
    assert(admitted > 0, "every edit suppressed — admission path vacuous")
    // and the composed output agrees: no near-dup-suppressed edit is in it
    val sup = ndAdmitted.filter(!$"admitted")
      .select($"doc_id").as[Long].collect().toSet
    graft.CacheGuard.release()
    assert(ids.intersect(sup).isEmpty)
  }

  test("decision log: curated set matches q248, dropped_by follows stage order, every stage appears") {
    val sparkS = spark
    import sparkS.implicits._
    val log = FullCurate.decisionLog(spark, sf).collect()
    graft.CacheGuard.release()
    val curatedIds = FullCurate.replayBatch(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    graft.CacheGuard.release()
    // the log covers the whole composed corpus and agrees with q248
    assert(log.map(_.getAs[Long]("doc_id")).toSet.size === log.length)
    assert(log.filter(_.getAs[Boolean]("curated"))
      .map(_.getAs[Long]("doc_id")).toSet === curatedIds)
    // label consistency: 'none' ⟺ curated; a label names a failing stage
    log.foreach { r =>
      val label = r.getAs[String]("dropped_by")
      assert((label == "none") === r.getAs[Boolean]("curated"))
      label match {
        case "exact" => assert(!r.getAs[Boolean]("emitted"))
        case "neardup" =>
          assert(r.getAs[Boolean]("emitted") && !r.getAs[Boolean]("nd_ok"))
        case "length" => assert(r.getAs[Boolean]("emitted") &&
          r.getAs[Boolean]("nd_ok") && !r.getAs[Boolean]("len_ok"))
        case "floor" => assert(r.getAs[Boolean]("emitted") &&
          r.getAs[Boolean]("nd_ok") && r.getAs[Boolean]("len_ok") &&
          !r.getAs[Boolean]("floor_ok"))
        case "none" =>
      }
    }
    // the fixture exercises every drop reason (a stage whose label never
    // fires is a stage the log proves nothing about)
    val reasons = log.map(_.getAs[String]("dropped_by")).toSet
    assert(reasons === Set("none", "exact", "neardup", "length", "floor"))
  }

  test("funnel: stage columns + n_curated re-sum to n_arrived and replay the decision log") {
    val sparkS = spark
    import sparkS.implicits._
    val funnel = FullCurate.funnelReport(spark, sf).collect()
    graft.CacheGuard.release()
    val log = FullCurate.decisionLog(spark, sf).collect()
    graft.CacheGuard.release()
    assert(funnel.nonEmpty)
    funnel.foreach { r =>
      assert(r.getAs[Long]("n_exact_dropped") + r.getAs[Long]("n_neardup_dropped") +
        r.getAs[Long]("n_length_dropped") + r.getAs[Long]("n_floor_dropped") +
        r.getAs[Long]("n_curated") === r.getAs[Long]("n_arrived"))
    }
    val bySource = log.groupBy(_.getAs[String]("source"))
    funnel.foreach { r =>
      val rows = bySource(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_arrived") === rows.length.toLong)
      def n(label: String) =
        rows.count(_.getAs[String]("dropped_by") == label).toLong
      assert(r.getAs[Long]("n_exact_dropped") === n("exact"))
      assert(r.getAs[Long]("n_neardup_dropped") === n("neardup"))
      assert(r.getAs[Long]("n_length_dropped") === n("length"))
      assert(r.getAs[Long]("n_floor_dropped") === n("floor"))
      assert(r.getAs[Long]("n_curated") === n("none"))
      assert(r.getAs[Long]("yield_u4") === n("none") * 10000L / rows.length)
    }
  }

  test("stream ≡ replay: the fused stateful gates + batch-local combine match the declared q248 over micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = FullCurate.fullDocs(spark, sf).collect().sortBy(_.doc_id)
    graft.CacheGuard.release()
    val floors = floorsDf
    val outDir = java.nio.file.Files.createTempDirectory("graft-fc-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fc-ckpt").toString
    val mem = MemoryStream[FullDoc]
    val q = FullCurate.curatedStream(mem.toDS(), floors, outDir, ckpt)
    docs.grouped(math.max(1, docs.length / 3)).foreach { b =>
      mem.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = curatedMap(spark.read.parquet(outDir))
    val replay = curatedMap(FullCurate.replayBatch(spark, sf))
    graft.CacheGuard.release()
    assert(streamed === replay)
    assert(streamed.nonEmpty)
  }

  test("one stateful pass per micro-batch: one operator, one state-store stage, the source read once") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = FullCurate.fullDocs(spark, sf).collect().sortBy(_.doc_id).take(40)
    graft.CacheGuard.release()
    val outDir = java.nio.file.Files.createTempDirectory("graft-fc1-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fc1-ckpt").toString
    val mem = MemoryStream[FullDoc]
    val q = FullCurate.curatedStream(mem.toDS(), floorsDf, outDir, ckpt)
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

  test("later micro-batches generate no code: the fused gates' state deserializer compiles once") {
    val sparkS = spark
    import sparkS.implicits._
    val docs = FullCurate.fullDocs(spark, sf).collect().sortBy(_.doc_id).take(100)
    graft.CacheGuard.release()
    val outDir = java.nio.file.Files.createTempDirectory("graft-fcg-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fcg-ckpt").toString
    val counts = CompileCounts.perBatch(spark, docs.toIndexedSeq, 20)(
      FullCurate.curatedStream(_, floorsDf, outDir, ckpt))
    // the first micro-batches compile the plans; every later one finds
    // all of its code, the state deserializer's included, in the cache
    assert(counts.drop(1).distinct.length === 1, counts.mkString(", "))
  }

  test("a curation micro-batch runs one Spark job and broadcasts nothing") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = FullCurate.fullDocs(spark, sf).collect().sortBy(_.doc_id).take(40)
    graft.CacheGuard.release()
    val outDir = java.nio.file.Files.createTempDirectory("graft-fcj-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fcj-ckpt").toString
    val mem = MemoryStream[FullDoc]
    val q = FullCurate.curatedStream(mem.toDS(), floorsDf, outDir, ckpt)
    try {
      mem.addData(docs.take(20).toIndexedSeq: _*)
      q.processAllAvailable()
      val (jobs, nodes) = jobsAndPlanNodes {
        mem.addData(docs.drop(20).toIndexedSeq: _*)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) === 2)
      // the gate exchange, the doc_id combine and the append are one job
      assert(jobs === 1)
      assert(nodes.contains("Exchange"), nodes.toSeq.sorted.mkString(", "))
      assert(!nodes.contains("BroadcastExchange"), nodes.toSeq.sorted.mkString(", "))
    } finally q.stop()
  }

  test("a floor table that lists a source twice is rejected when the stream starts") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val floors = Seq(("a", 40L), ("b", 10L), ("a", 50L)).toDF("source", "thr_u4")
    val outDir = java.nio.file.Files.createTempDirectory("graft-fcd-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fcd-ckpt").toString
    val mem = MemoryStream[FullDoc]
    val e = intercept[IllegalArgumentException] {
      FullCurate.curatedStream(mem.toDS(), floors, outDir, ckpt).stop()
    }
    assert(e.getMessage.contains("more than once: a"), e.getMessage)
  }

  test("a null thr_u4 is floor 0, and a null source floors no document") {
    val sparkS = spark
    import sparkS.implicits._
    val floors = Seq[(String, java.lang.Long)](("a", null), ("b", 7L), (null, 99L))
      .toDF("source", "thr_u4")
    val floorMap = CuratePipeline.collectFloors(floors)
    assert(floorMap === Map("a" -> 0L, "b" -> 7L))
    val votes = Seq(
      GateVote(1L, "a", "fp1", CuratePipeline.minTokens, 0L, "exact", false),
      GateVote(2L, "b", "fp2", CuratePipeline.minTokens, 6L, "exact", false))
    val out = FullCurate.combineBatch(votes.toDF(), floorMap)
    assert(out.select($"doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("combineBatch on hand-built votes: admitted iff no gate blocked, in token bounds and at the floor") {
    val sparkS = spark
    import sparkS.implicits._
    import CuratePipeline.{minTokens, maxTokens}
    def exact(id: Long, src: String = "a", n: Long = minTokens, q: Long = 50L,
              blocked: Boolean = false) =
      GateVote(id, src, s"fp$id", n, q, "exact", blocked)
    def band(id: Long, blocked: Boolean) =
      GateVote(id, "", "", 0L, 0L, "band", blocked)
    val votes = Seq(
      exact(1),                                    // exact vote only: admitted
      exact(2, blocked = true),                    // exact vote blocked
      exact(3), band(3, false), band(3, true),     // one band vote blocked
      exact(4), band(4, false), band(4, false),    // every band vote clear
      exact(5, n = minTokens - 1),                 // under the token minimum
      exact(6, n = maxTokens),                     // the maximum is exclusive
      exact(7, n = maxTokens - 1),
      exact(8, q = 39L),                           // below the source floor
      exact(9, q = 40L),                           // at the floor
      exact(10, src = "unlisted", q = 0L))         // unknown source: floor 0
    val out = FullCurate.combineBatch(votes.toDF(), Map("a" -> 40L))
    assert(out.columns.toSeq === Seq("doc_id", "source", "fp", "n_tokens", "q_u4"))
    val got = out.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("source"), r.getAs[String]("fp"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("q_u4"))).toMap
    // admitted rows carry the exact vote's features, never a band vote's
    assert(got === Map(
      1L -> ("a", "fp1", minTokens, 50L),
      4L -> ("a", "fp4", minTokens, 50L),
      7L -> ("a", "fp7", maxTokens - 1, 50L),
      9L -> ("a", "fp9", minTokens, 40L),
      10L -> ("unlisted", "fp10", minTokens, 0L)))
  }

  test("restart from the checkpoint on RocksDB: both gates' state survives, stream still ≡ replay") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = FullCurate.fullDocs(spark, sf).collect().sortBy(_.doc_id)
      graft.CacheGuard.release()
      val floors = floorsDf
      val outDir = java.nio.file.Files.createTempDirectory("graft-fcr-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-fcr-ckpt").toString
      val mem = MemoryStream[FullDoc]
      def startQuery() = FullCurate.curatedStream(mem.toDS(), floors, outDir, ckpt)
      // incarnation 1 sees only originals; the re-arrivals and edits in
      // incarnation 2 are suppressed ONLY if the recovered Bloom words
      // and band histories continue the folds where the stop left them
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
      val replay = curatedMap(FullCurate.replayBatch(spark, sf))
      graft.CacheGuard.release()
      assert(streamed === replay)
      // a lost exact-gate state would admit every +100000 re-arrival
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

  Seq("hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .foreach { case (name, provider) =>
    test(s"a checkpoint written by a plain writeStream start (with Hadoop .crc sidecars) resumes through StreamStart on $name: stream ≡ replay, no duplicates") {
      val sparkS = spark
      import sparkS.implicits._
      implicit val sqlCtx = sparkS.sqlContext
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = spark.conf.getOption(key)
      spark.conf.set(key, provider)
      try {
        val docs = FullCurate.fullDocs(spark, sf).collect().sortBy(_.doc_id)
        graft.CacheGuard.release()
        val floors = floorsDf
        val floorMap = CuratePipeline.collectFloors(floors)
        val outDir = java.nio.file.Files.createTempDirectory("graft-fcx-out").toString
        val ckpt = java.nio.file.Files.createTempDirectory("graft-fcx-ckpt")
        val mem = MemoryStream[FullDoc]
        // incarnation 1: three micro-batches through Spark's default
        // checkpoint file manager on the caller's session
        val (b1, b2) = docs.splitAt(docs.count(_.doc_id < 100000L))
        val q1 = FullCurate.gateStream(mem.toDS()).writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[GateVote], _: Long) =>
            FullCurate.combineBatch(batch.toDF(), floorMap)
              .write.mode("append").parquet(outDir)
          }
          .start()
        b1.grouped(b1.length / 3 + 1).foreach { b =>
          mem.addData(b.toIndexedSeq: _*)
          q1.processAllAvailable()
        }
        q1.stop()
        import scala.jdk.CollectionConverters._
        assert(java.nio.file.Files.walk(ckpt).iterator().asScala
          .exists(_.getFileName.toString.matches("""\..*\.crc""")),
          "incarnation 1 wrote no Hadoop sidecar — not the default manager")
        // incarnation 2: the re-arrivals and edits through the helper
        val q2 = FullCurate.curatedStream(mem.toDS(), floors, outDir, ckpt.toString)
        b2.grouped(b2.length / 2 + 1).foreach { b =>
          mem.addData(b.toIndexedSeq: _*)
          q2.processAllAvailable()
        }
        q2.stop()
        val written = spark.read.parquet(outDir)
        val ids = written.select($"doc_id").as[Long].collect()
        assert(ids.distinct.length === ids.length, "a micro-batch was replayed")
        val replay = curatedMap(FullCurate.replayBatch(spark, sf))
        graft.CacheGuard.release()
        assert(curatedMap(written) === replay)
        assert(replay.nonEmpty)
      } finally prevProvider match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("phaseFunnel: the designed per-phase fate profile holds exactly") {
    val out = FullCurate.phaseFunnel(spark, sf).collect()
      .map(r => r.getAs[String]("phase") -> r).toMap
    graft.CacheGuard.release()
    assert(out.keySet === Set("base", "exact_rearrival", "edited_recrawl"))
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_exact_dropped") + r.getAs[Long]("n_neardup_dropped") +
        r.getAs[Long]("n_length_dropped") + r.getAs[Long]("n_floor_dropped") +
        r.getAs[Long]("n_curated") === r.getAs[Long]("n_arrived"))
    }
    // re-arrivals: every one dies at the exact gate (identical fp,
    // original always earlier) — the gate's defining guarantee
    val re = out("exact_rearrival")
    assert(re.getAs[Long]("n_exact_dropped") === re.getAs[Long]("n_arrived"))
    assert(re.getAs[Long]("n_curated") === 0L)
    // bases: never near-dup-dropped (nothing arrives before them at
    // est >= tau except other bases, which the corpus lacks)
    val base = out("base")
    assert(base.getAs[Long]("n_curated") > 0L)
    // edits: pass the exact gate (new fp, no bloom collision by design
    // fixture scale), split at the near-dup gate BOTH ways
    val ed = out("edited_recrawl")
    assert(ed.getAs[Long]("n_neardup_dropped") > 0L)
    assert(ed.getAs[Long]("n_neardup_dropped") <
      ed.getAs[Long]("n_arrived") - ed.getAs[Long]("n_exact_dropped"))
  }
}
