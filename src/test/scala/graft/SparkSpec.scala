package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** One shared local SparkSession for the whole forked test JVM (sessions are
  * expensive; Test/fork gives all suites one JVM). UTC + small shuffle
  * partitions mirror the Verify/Bench harness configuration. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // keep catalog-managed test tables (bucketed-join spec) out of the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] = df.collect().toSeq

  /** Spark jobs and SQL executions started while `body` runs. */
  def jobsAndSql(body: => Unit): (Int, Int) = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.GraftBusBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val (jobs, sqlRuns) = (new AtomicInteger, new AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqlRuns.incrementAndGet()
        case _ => ()
      }
    }
    GraftBusBridge.flushListenerBus(sc)
    sc.addSparkListener(l)
    try { body; GraftBusBridge.flushListenerBus(sc) }
    finally sc.removeSparkListener(l)
    (jobs.get, sqlRuns.get)
  }
}
