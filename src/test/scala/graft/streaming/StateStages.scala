package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Spec probe: how many stages run a state store while `body` runs. A
  * stateful operator reads and commits its stores through a
  * `StateStoreRDD`, so a stage whose RDD lineage holds one is a stateful
  * pass; running an operator twice in a micro-batch shows up as two. */
object StateStages {
  def during(spark: SparkSession)(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "StateStoreRDD"))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      GraftBusBridge.flushListenerBus(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }
}
