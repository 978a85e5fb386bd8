package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{CacheGuard, SparkEntry}
import graft.operators.TextAnalysis
import graft.streaming.{FullCurate, FullDoc}
import Harness._

/** Open-loop curation stream: `FullCurate.fullDocs` rows, computed before
  * the clock, are added in doc_id order to a `MemoryStream` feeding
  * `FullCurate.curatedStream` (its defaults):
  *
  *   warm-up       `warmBatches` closed-loop batches of `warmDocs` docs
  *                 each, off the clock (planning, codegen and JIT)
  *   open phase    docs due within `--seconds` on the seeded Poisson
  *                 schedule (at most half of the rest), handed over by
  *                 the generator loop once due and no micro-batch runs;
  *                 latency = end of the micro-batch that committed the
  *                 doc - its due time
  *   closed phase  the rest in `closedBatches` equal batches, each added
  *                 after the previous one committed (capacity)
  *
  * The curated output must then equal `FullCurate.replayBatch` (checked
  * by run.py against its oracle, the SQL of [[replayQuery]]). */
object Stream {
  val warmDocs = 20
  val warmBatches = 6
  val closedBatches = 5
  val replayQuery = "q248_full_curate"

  final case class Add(docsAfter: Int, offset: Long)

  def batchEndMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration

  def run(spark: SparkSession, o: Opts, res: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val data = o("data")
    val out = o("out")
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val arrivals = Files.readString(Paths.get(o("arrivals"))).trim.split("\\s+").map(_.toDouble)

    def log(m: String) = System.err.println(s"[perfbench] ${System.currentTimeMillis() / 1000.0} $m")
    val docs = FullCurate.fullDocs(spark, data).collect().sortBy(_.doc_id) // collect-ok: fixture feed, off the clock
    val floors = TextAnalysis.sourceQualityFloor(spark, data)
      .select($"source", $"thr_u4").localCheckpoint()
    CacheGuard.release()
    val sinkDir = s"$out/stream/curated"
    val mem = MemoryStream[FullDoc]
    val q = FullCurate.curatedStream(mem.toDS(), floors, sinkDir, s"$out/stream/checkpoint")
    def feed(ds: Seq[FullDoc]): Unit = { mem.addData(ds: _*); q.processAllAvailable() }

    log("features done")
    docs.take(warmDocs * warmBatches).grouped(warmDocs).foreach(b => feed(b.toIndexedSeq))
    val warmProgress = q.recentProgress.length
    log("warm-up done")
    val rest = docs.drop(warmDocs * warmBatches)
    val nOpen = math.min(rest.length / 2, arrivals.count(_ < seconds))

    val tracer = new Tracer
    if (trace) { register(spark, tracer); drain(spark); tracer.take() }
    val (c0, g0, j0) = (cpuNs(), gcMs(), jitMs())
    val adds = mutable.ArrayBuffer.empty[Add]
    val lagsMs = mutable.ArrayBuffer.empty[Double]
    val start = System.currentTimeMillis() + 20
    def due(i: Int): Double = start + arrivals(i) * 1000.0
    // arrived docs queue up while a micro-batch runs and are added in one
    // block when it ends, as a log-backed source would hand them over
    // (the memory source pays per block added, not per row); `lagsMs` is
    // how late the generator saw each doc come due
    var i, j = 0
    while (i < nOpen) {
      val now = System.currentTimeMillis()
      while (j < nOpen && due(j) <= now) { lagsMs += now - due(j); j += 1 }
      if (j > i && !q.status.isTriggerActive) {
        val off = mem.addData(rest.slice(i, j).toIndexedSeq: _*).json().toLong
        adds += Add(j, off)
        i = j
      } else Thread.sleep(1)
    }
    q.processAllAvailable()
    val cpuS = (cpuNs() - c0) / 1e9
    val (gc, jit) = ((gcMs() - g0).toDouble, (jitMs() - j0).toDouble)
    val openWindow = if (trace) { drain(spark); Some(tracer.take()) } else None
    val progs = q.recentProgress.drop(warmProgress).toSeq
    val ends = progs.map(p => (p.sources.head.endOffset.toLong, batchEndMs(p)))
    val commitMs = adds.map(a => ends.find(_._1 >= a.offset).map(_._2).getOrElse(Long.MaxValue))
    val latS = adds.indices.flatMap { k =>
      val from = if (k == 0) 0 else adds(k - 1).docsAfter
      (from until adds(k).docsAfter).map(d => (commitMs(k) - due(d)) / 1000.0)
    }
    res("open_docs") = nOpen
    res("wall_s") = (commitMs.max - due(0)) / 1000.0
    res("cpu_s") = cpuS
    res("latency_p50_s") = quantile(latS, 0.5)
    res("latency_p99_s") = quantile(latS, 0.99)

    log("open phase done")
    // closed loop: fixed batches, each added after the previous committed;
    // in a traced run every second batch runs traced (the overhead)
    val left = rest.drop(nOpen)
    val closed = left.grouped((left.length + closedBatches - 1) / closedBatches).toSeq
    if (trace) unregister(spark, tracer)
    val batchS = closed.zipWithIndex.map { case (b, k) =>
      if (trace && k % 2 == 1) register(spark, tracer)
      val t0 = System.nanoTime()
      feed(b.toIndexedSeq)
      val s = ms(t0) / 1000.0
      if (trace && k % 2 == 1) unregister(spark, tracer)
      s
    }
    res("throughput_per_s") = closed.map(_.length).sum / batchS.sum
    // every micro-batch (warm-up included), for diagnosis
    res("batches") = q.recentProgress.toSeq.map(p => Map("ms" -> p.batchDuration, "rows" -> p.numInputRows))
    q.stop()

    log("closed phase done")
    // run.py compares the curated output with the oracle of
    // `FullCurate.replayBatch` (q248) over the same tables
    res("attempted") = docs.length
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter(_._1 == replayQuery)))

    if (trace) {
      layerMetrics(openWindow.get, start, commitMs.max, gc, jit, res)
      def medOf(f: StreamingQueryProgress => Double) = median(progs.map(f))
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      res("streaming.batches") = progs.length.toDouble
      res("streaming.batch_ms_p50") = medOf(_.batchDuration.toDouble)
      res("streaming.add_batch_ms") = medOf(dur(_, "addBatch"))
      res("streaming.offset_log_ms") = medOf(p => dur(p, "walCommit") + dur(p, "commitOffsets"))
      res("streaming.state_commit_ms") = medOf(_.stateOperators.map(_.commitTimeMs).sum.toDouble)
      res("streaming.planning_ms") = medOf(dur(_, "queryPlanning"))
      res("streaming.state_rows") = progs.last.stateOperators.map(_.numRowsTotal).sum.toDouble
      res("streaming.state_mb") = progs.last.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0
      // docs due but not yet committed when each micro-batch ends
      res("streaming.backlog_docs_max") = ends.map { case (off, endMs) =>
        val committed = adds.filter(_.offset <= off).lastOption.map(_.docsAfter).getOrElse(0)
        ((0 until nOpen).count(due(_) <= endMs) - committed).toDouble
      }.max
      res("streaming.gen_lag_ms") = quantile(lagsMs.toSeq, 0.9)
      res("trace.span_coverage") = progs.map(_.batchDuration).sum / (commitMs.max - start).toDouble
      val (traced, plain) = batchS.zipWithIndex.partition(_._2 % 2 == 1)
      res("trace.overhead_frac") = median(traced.map(_._1)) / median(plain.map(_._1)) - 1.0
      Probes.run(spark, data, res)
    }
  }
}
