package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{FullCurate, FullDoc}

/** Streaming throughput bench for the composed curation gate (q248):
  * feeds the composed corpus through [[FullCurate.curatedStream]] in
  * doc_id-ordered micro-batches via a MemoryStream and reports
  * sustained docs/sec — the capacity-planning number the batch bench
  * cannot give (state-store round trips, per-batch planning, and the
  * fused gate exchange are the streaming-only costs).
  *
  * Protocol: the feature extraction (tokenize/fingerprint/minhash) is
  * done BEFORE the clock starts (it is q248's batch-side cost, already
  * benched); the measured window covers gate state folds + combine +
  * parquet append across `batches` micro-batches. One warm-up batch
  * (5% of the corpus) runs before the clock to absorb stream-graph
  * planning/codegen. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StreamBench [batches]"
  *
  * Round-11 (verdict ask #5) additions — the per-batch fixed cost is
  * the thing under test, so the bench now ATTRIBUTES it and exposes
  * the levers:
  *   - the JSON line carries the micro-batch duration breakdown summed
  *     from `recentProgress` over the measured window (`addBatch` =
  *     plan+execute incl. foreachBatch body, `walCommit`+`commitOffsets`
  *     = the offset and commit log entries, each an atomic rename of a
  *     temp file, `stateCommit` = state-store checkpointing of the one
  *     fused stateful operator, `queryPlanning` = incremental planning)
  *     — where the constant goes, not a guess. Every gate starts through
  *     [[graft.streaming.StreamStart.appendBatches]], so the bench writes
  *     its checkpoint through the library's checkpoint file manager;
  *   - SPARK_GRAFT_SB_SHUFFLE: shuffle partitions (default = cores).
  *     This is ALSO the state-store instance count of the one fused
  *     stateful operator — 32 means 32 store commits per micro-batch;
  *   - SPARK_GRAFT_SB_STORE=rocksdb|hdfs (default hdfs): provider A/B;
  *   - SPARK_GRAFT_SB_COALESCE=N: coalesce the combine output before
  *     the parquet append (1 file/batch vs shuffle-width files);
  *   - SPARK_GRAFT_SB_NODATA=true|false (default false): Spark's
  *     no-data micro-batches — off keeps `processAllAvailable` from
  *     paying an extra commit cycle per fed batch.
  * Results + chosen defaults: BASELINE.md "Streaming gate per-batch
  * cost". */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batches = args.headOption.map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SB_SHUFFLE", cpus)
    val store = sys.env.getOrElse("SPARK_GRAFT_SB_STORE", "hdfs")
    val coalesceN = sys.env.get("SPARK_GRAFT_SB_COALESCE").map(_.toInt)
    val noData = sys.env.getOrElse("SPARK_GRAFT_SB_NODATA", "false")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", noData)
      // AQE's per-stage materialization is pure overhead on batch-sized
      // inputs (the combine's joins re-plan per micro-batch) — sweepable
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_SB_AQE", "true"))
    if (store == "rocksdb") builder.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // which gate to feed (round 15): "full" = the composed q248 text
    // pipeline (default, the historical number); "media" = the q305
    // media-perceptual gate; "semantic" = the q308 embedding gate;
    // "mm" = the five-gate multi-modal chain (q317, round 16). The
    // protocol is identical for all — features (fingerprints /
    // buckets) are computed OFF the clock, the measured window covers
    // state folds + combine + parquet append.
    val gateKind = sys.env.getOrElse("SPARK_GRAFT_SB_GATE", "full")
    val outDir = java.nio.file.Files.createTempDirectory("graft-sb-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sb-ckpt").toString

    def sink(out: org.apache.spark.sql.DataFrame): Unit =
      coalesceN.fold(out)(out.coalesce)
        .write.options(graft.streaming.StreamStart.rawLocalWrite).mode("append")
        .parquet(outDir)

    import graft.streaming.{MediaGate, MediaDoc, SemanticGate, VecDoc,
      MultiModalCurate, MmDoc, StreamStart}
    val (docIds, mkQuery): (Array[Long], () => (Seq[Long] => Unit, org.apache.spark.sql.streaming.StreamingQuery)) =
      gateKind match {
        case "mm" =>
          val docs = MultiModalCurate.mmDocs(spark, sfDir).collect().sortBy(_.doc_id)  // collect-ok: bench-driver fixture feed, not a query
          graft.CacheGuard.release()
          val byId = docs.map(d => d.doc_id -> d).toMap
          val floors = graft.operators.TextAnalysis
            .sourceQualityFloor(spark, sfDir).select($"source", $"thr_u4")
          floors.count() // materialize the floor table off the clock
          (docs.map(_.doc_id), () => {
            val mem = MemoryStream[MmDoc]
            val q = MultiModalCurate.curatedStream(mem.toDS(), floors, outDir, ckpt, coalesceN)
            (ids => { mem.addData(ids.map(byId): _*); q.processAllAvailable() }, q)
          })
        case "media" =>
          val docs = MediaGate.mediaDocs(spark, sfDir).collect().sortBy(_.media_id)  // collect-ok: bench-driver fixture feed, not a query
          val byId = docs.map(d => d.media_id -> d).toMap
          (docs.map(_.media_id), () => {
            val mem = MemoryStream[MediaDoc]
            val q = StreamStart.appendBatches(MediaGate.gateStream(mem.toDS()), ckpt) {
              (b, _) => sink(MediaGate.admittedOfBatch(b.toDF())) }
            (ids => { mem.addData(ids.map(byId): _*); q.processAllAvailable() }, q)
          })
        case "semantic" =>
          val docs = SemanticGate.vecDocs(spark, sfDir).collect().sortBy(_.vec_id)  // collect-ok: bench-driver fixture feed, not a query
          val byId = docs.map(d => d.vec_id -> d).toMap
          (docs.map(_.vec_id), () => {
            val mem = MemoryStream[VecDoc]
            val q = StreamStart.appendBatches(SemanticGate.gateStream(mem.toDS()), ckpt) {
              (b, _) => sink(SemanticGate.admittedOfBatch(b.toDF())) }
            (ids => { mem.addData(ids.map(byId): _*); q.processAllAvailable() }, q)
          })
        case _ =>
          val docs = FullCurate.fullDocs(spark, sfDir).collect().sortBy(_.doc_id)  // collect-ok: bench-driver fixture feed, not a query
          val byId = docs.map(d => d.doc_id -> d).toMap
          val floors = graft.operators.TextAnalysis
            .sourceQualityFloor(spark, sfDir).select($"source", $"thr_u4")
          floors.count() // materialize the floor table off the clock
          (docs.map(_.doc_id), () => {
            val mem = MemoryStream[FullDoc]
            val q = FullCurate.curatedStream(mem.toDS(), floors, outDir, ckpt, coalesceN)
            (ids => { mem.addData(ids.map(byId): _*); q.processAllAvailable() }, q)
          })
      }
    val (feed, q) = mkQuery()

    val (warm, rest) = docIds.splitAt(math.max(1, docIds.length / 20))
    feed(warm.toIndexedSeq) // warm-up batch, off the clock
    val warmBatchId = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

    val per = math.max(1, rest.length / batches)
    // grouped(per) can emit batches+1 micro-batches when length is not
    // divisible — report the ACTUAL count, not the requested one, so the
    // derived per-batch constant (sec / batches) is honest
    val groups = rest.grouped(per).toSeq
    val t0 = System.nanoTime()
    groups.foreach(b => feed(b.toIndexedSeq))
    val sec = (System.nanoTime() - t0) / 1e9
    // attribution: sum the duration breakdown over the measured batches.
    // recentProgress retains only the last ~100 — per-batch figures must
    // divide by the batches ACTUALLY SUMMED (progs.length), not the
    // batches fed (groups.size), or a >100-batch sweep silently
    // underreports every attribution figure (round-11 advice)
    val progs = q.recentProgress.filter(_.batchId > warmBatchId)
    val nProg = math.max(1, progs.length)
    def dur(k: String): Long =
      progs.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
    val stateCommit = progs.map(_.stateOperators.map(_.commitTimeMs).sum).sum
    q.stop()
    val curated = spark.read.parquet(outDir).count()
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    def s2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    println(s"""{"metric":"stream_docs_per_sec","gate":"$gateKind","value":${(rest.length / sec).round},"docs":${rest.length},"sec":${s2(sec)},"batches":${groups.size},"batch_size":$per,"sec_per_batch":${BigDecimal(sec / groups.size).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"curated_total":$curated,"sf":"$sfDir","conf":{"shuffle":$shuffle,"store":"$store","coalesce":${coalesceN.getOrElse(0)},"no_data_batches":$noData},"attrib_ms_per_batch":{"add_batch":${dur("addBatch") / nProg},"offset_log":${(dur("walCommit") + dur("commitOffsets")) / nProg},"state_commit":${stateCommit / nProg},"planning":${dur("queryPlanning") / nProg},"progress_batches":${progs.length}}}""")
    System.out.flush()
    spark.stop()
  }
}
