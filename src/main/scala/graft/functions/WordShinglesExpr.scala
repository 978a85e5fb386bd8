package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram shingler: array of space-joined n-token windows,
  * byte-identical to the combinator form
  * `transform(sequence(0, m-n), i -> concat_ws(" ", slice(toks, i+1, n)))`
  * (TextFunctions.wordShingles) and to the DuckDB oracle's
  * `list_transform(range(...), i -> array_to_string(list_slice(tk, i, i+n-1), ' '))`,
  * so it is drop-in for oracle-checked queries.
  *
  * Exists for the same reason as [[Md5MinHashSignature]]: the combinator form
  * evaluates (m-n+1) interpreted lambda calls per row, each allocating a
  * slice array — the dominant cost of the shingling stage at sf0.1. Here
  * it is one generated-code call into a tight JVM loop. Docs shorter than
  * n tokens yield []. */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, "shingle width must be >= 1")

  // covariant override: AbstractDataType itself is private[sql]
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    WordShinglesExpr.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordShinglesExpr.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

object WordShinglesExpr {
  private val space = UTF8String.fromString(" ")

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    val count = m - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val ts = new Array[UTF8String](m)
    var i = 0
    while (i < m) { ts(i) = toks.getUTF8String(i); i += 1 }
    val out = new Array[Any](count)
    val window = new Array[UTF8String](n)
    i = 0
    while (i < count) {
      var j = 0
      while (j < n) { window(j) = ts(i + j); j += 1 }
      out(i) = UTF8String.concatWs(space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
