package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** State encoders for the library's `flatMapGroupsWithState` gates,
  * resolved and bound once.
  *
  * Spark resolves an operator's state encoder again for every
  * micro-batch, and resolving names each collection loop of the
  * deserializer anew (`MapObjects` lambda variable ids), so a default
  * state encoder's generated deserializer differs in every micro-batch:
  * each one compiles it with Janino while the state stage's other tasks
  * wait on the same code-cache entry, and loads one more class for the
  * JIT to compile. A bound encoder resolves to itself, so the code, and
  * its cache entry, are the same in every micro-batch. The state schema
  * is the default encoder's, so existing checkpoints resume. */
private[streaming] object StateEncoders {
  def bound[S: TypeTag]: Encoder[S] = ExpressionEncoder[S]().resolveAndBind()
}
