package graft.streaming

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Spec probe: Spark's cumulative codegen compile count after each
  * micro-batch of `docs`, `batch` at a time, through the query `start`
  * starts over a memory stream. A stateful operator whose state
  * deserializer is generated anew every micro-batch keeps the count
  * climbing after the first batches; one whose code is cached leaves it
  * flat. */
object CompileCounts {
  def perBatch[T: Encoder](spark: SparkSession, docs: Seq[T], batch: Int)(
      start: Dataset[T] => StreamingQuery): Seq[Long] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[T]
    val q = start(mem.toDS())
    try docs.grouped(batch).map { b =>
      mem.addData(b: _*)
      q.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    }.toList
    finally q.stop()
  }

  /** `ds` into the noop sink, checkpointed in a fresh temp directory. */
  def noopSink(ds: Dataset[_]): StreamingQuery =
    ds.writeStream.format("noop")
      .option("checkpointLocation", Files.createTempDirectory("graft-cg-ckpt").toString)
      .start()
}
