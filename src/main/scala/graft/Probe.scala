package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev probe: `SPARK_GRAFT_SF_DIR=<tables> sbt "runMain graft.Probe <query>
  * [<query> …]"` times each named query with [[Bench.measure]] — the
  * bench's session ([[Bench.localSession]]), blocking pre-rep drain and
  * [[BenchProbe]] attribution — SPARK_GRAFT_BENCH_REPS times. Per rep it
  * prints the wall time and attribution, the slowest jobs' wall and
  * summed task time, and the final adaptive plan of the timed action,
  * formatted. The last stdout line is one JSON object
  * `{query: min successful secs | null}` ([[summary]]); the process exits
  * 1 when any query failed and 2 when a name does not resolve. Names
  * resolve against [[SparkEntry.queries]] plus [[dictScaled]]. */
object Probe {

  /** Dictionary-scaled variants of q298/q299: the corpus stays fixed while
    * the unigram vocabulary (seed + prune schedule ×10) or the
    * contamination gate's benchmark gram set (bench modulus 97 → 11, ≈9×
    * the gram set) grows, so the claimed O(vocabulary) EM and O(gram-set)
    * broadcast terms are the only thing that can bend (the `dict` rows of
    * SCALE_probe.json). */
  val dictScaled: Map[String, (SparkSession, String) => DataFrame] = {
    import operators.TextAnalysis.{uniPruneSchedule, uniSeedMulti, unigramEncodeFertilityWith}
    import streaming.ContamGate.contamGateBatchWith
    Map(
      "q298_dict_1x" -> ((s, d) =>
        unigramEncodeFertilityWith(s, d, uniSeedMulti, uniPruneSchedule)),
      "q298_dict_10x" -> ((s, d) =>
        unigramEncodeFertilityWith(s, d, uniSeedMulti * 10, uniPruneSchedule.map(_ * 10))),
      "q299_grams_1x" -> ((s, d) => contamGateBatchWith(s, d, operators.CorpusOps.benchMod)),
      "q299_grams_10x" -> ((s, d) => contamGateBatchWith(s, d, 11L)))
  }

  /** The closing JSON line and whether any query failed. A query's value
    * is its min over SUCCESSFUL reps, or `null` when none succeeded —
    * never a sentinel number a downstream ratio would silently use; any
    * failed rep sets the flag. */
  def summary(results: Seq[Bench.Measured]): (String, Boolean) = {
    val line = results.map { m =>
      val sec = m.okSecs.minOption
        .map(s => BigDecimal(s).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString)
        .getOrElse("null")
      s""""${m.name}":$sec"""
    }.mkString("{", ",", "}")
    (line, results.exists(!_.ok))
  }

  /** Per-job wall and summed task time of one rep, and the
    * QueryExecution of its last successful action (the timed one). */
  private final class Watch extends SparkListener with QueryExecutionListener {
    private val jobStart = mutable.HashMap.empty[Int, Long]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val jobTaskMs = mutable.HashMap.empty[Int, Long]
    private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    private var last: Option[QueryExecution] = None

    def reset(): Unit = synchronized { jobs.clear(); last = None }
    /** (job id, wall ms, task ms) of the rep's `n` slowest jobs, and how
      * many jobs the rep ran. */
    def slowest(n: Int): (Seq[(Int, Long, Long)], Int) =
      synchronized { (jobs.sortBy(-_._2).take(n).toSeq, jobs.size) }
    def lastAction: Option[QueryExecution] = synchronized(last)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null) stageJob.get(e.stageId).foreach { j =>
        jobTaskMs(j) = jobTaskMs.getOrElse(j, 0L) + e.taskMetrics.executorRunTime
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        jobs += ((e.jobId, e.time - t0, jobTaskMs.remove(e.jobId).getOrElse(0L)))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { last = Some(qe) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val queries = SparkEntry.queries ++ dictScaled
    val sfDir = sys.env.get("SPARK_GRAFT_SF_DIR")
    val unknown = args.filterNot(queries.contains)
    if (args.isEmpty || unknown.nonEmpty || sfDir.isEmpty) {
      System.err.println("usage: SPARK_GRAFT_SF_DIR=<tables dir> graft.Probe " +
        s"<query> [<query> ...]${unknown.map(" - unknown: " + _).mkString}")
      sys.exit(2)
    }
    val spark = Bench.localSession()
    val watch = new Watch
    spark.sparkContext.addSparkListener(watch)
    spark.listenerManager.register(watch)
    val formatted = ExplainMode.fromString("formatted")
    val results = args.toSeq.distinct.map { name =>
      val runs = (1 to Bench.envReps).map { rep =>
        watch.reset()
        // one rep per measure call, so each rep's jobs and plan print
        // before the next rep's pre-rep drain
        val m = Bench.measure(spark, sfDir.get, Map(name -> queries(name)), 1).head
        val p = m.probe.head
        println(f"[probe] $name rep$rep ${m.secs.head}%.2f s " +
          s"task_ms=${p.taskMs} cpu_ms=${p.cpuMs} compile_ms=${p.compileMs} " +
          s"jit_ms=${p.jitMs} swrite_ms=${p.swriteMs} gc_ms=${m.gcMs.head}" +
          m.err.fold("")(e => s" FAILED: $e"))
        val (slow, nJobs) = watch.slowest(10)
        println(s"[probe] $name rep$rep $nJobs jobs, slowest:")
        slow.foreach { case (j, wall, task) =>
          println(f"[job] $j%4d wall=${wall / 1e3}%7.2f s task=${task / 1e3}%8.2f s")
        }
        if (m.ok) watch.lastAction.foreach(qe => println(qe.explainString(formatted)))
        m
      }
      Bench.Measured(name, runs.flatMap(_.secs), runs.flatMap(_.okSecs),
        runs.flatMap(_.err).headOption)
    }
    val (line, failed) = summary(results)
    println(line)
    spark.stop()
    if (failed) sys.exit(1)
  }
}
