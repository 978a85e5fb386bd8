package org.apache.spark.sql

/** Bridge to two `private[sql]` seams of the classic session that
  * [[graft.streaming.StreamStart]] needs to start a stream under its own
  * conf without touching the caller's session (same pattern as
  * [[GraftColumnBridge]] — lives in the `org.apache.spark.sql` package
  * solely to re-export them; contains no logic of its own). */
object GraftSessionBridge {
  /** `cloneSession()`: a session sharing the caller's context and state,
    * with a conf of its own. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `ds`'s logical plan as a Dataset of the session `s`. */
  def onSession[T](ds: Dataset[T], s: SparkSession): Dataset[T] =
    classic.Dataset[T](s.asInstanceOf[classic.SparkSession],
      ds.asInstanceOf[classic.Dataset[T]].logicalPlan)(ds.encoder)
}
