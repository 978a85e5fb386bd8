package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-array digest kernels for the Jaccard dedup path (q20): the block
  * key `min(md5(element))` and the shuffle-payload hash array
  * `xxhash64(element)*`. Both existed as `transform(...)` combinator
  * forms — byte-identical results, but one interpreted lambda eval per
  * SHINGLE per row in the operator's cache-materialization hot loop (the
  * same interpreted-HOF tax the native MinHash signature removed, 146 s →
  * <2 s). These run as single codegen'd JVM loops.
  */
case class Md5MinExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "md5_min"
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    ArrayDigestExprs.md5Min(input.asInstanceOf[ArrayData])
  // NOT defineCodeGen: the kernel returns Java null for empty/all-null
  // arrays (array_min semantics) and the result's isNull must track that,
  // not just the child's nullness — otherwise codegen'd plans carry a
  // non-null-flagged null and diverge from interpreted eval
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ArrayDigestExprs.md5Min($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): Md5MinExpr =
    copy(child = newChild)
}

/** Allocation-free |A ∩ B| over two NUMERICALLY-SORTED long arrays (the
  * hashed-shingle payloads of the exact set joins): a single merge walk,
  * no per-row hash set. `size(array_intersect(ta, tb))` builds an
  * OpenHashSet + result array PER CANDIDATE PAIR — at sf1+ candidate
  * volumes that allocation churn drove the q114/q122/q175/q178/q261
  * family into run-to-run bimodal GC thrash (same plan, same 417 MB
  * shuffle, 6× task CPU / 2469 s summed GC in the slow regime — round 17,
  * OPTIMIZATION_r17.md). Precondition: both arrays ascending; equal-element
  * runs advance both sides (on distinct-element inputs — which hashed
  * `array_distinct` shingle sets are, modulo the documented ~1e-16
  * 64-bit collision — this equals array_intersect's distinct count). */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDigestExprs.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayDigestExprs.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

case class XxHash64ArrayExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "xxhash64_array"
  override def nullSafeEval(input: Any): Any =
    ArrayDigestExprs.xxhash64Array(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayDigestExprs.xxhash64Array($c)")
  override protected def withNewChildInternal(newChild: Expression): XxHash64ArrayExpr =
    copy(child = newChild)
}

object ArrayDigestExprs {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  /** Lexicographic min of per-element lowercase md5 hex — identical to
    * `array_min(transform(arr, md5))` and the oracle's `min(md5(sh))`.
    * Null for empty/all-null arrays (as array_min). */
  def md5Min(arr: ArrayData): UTF8String = {
    val md = digest.get()
    var min: String = null
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        md.reset()
        val d = md.digest(s.getBytes)
        val hex = new Array[Char](32)
        var j = 0
        while (j < 16) {
          hex(2 * j) = HexChars((d(j) >> 4) & 0xf)
          hex(2 * j + 1) = HexChars(d(j) & 0xf)
          j += 1
        }
        val h = new String(hex)
        if (min == null || h < min) min = h
      }
      i += 1
    }
    if (min == null) null else UTF8String.fromString(min)
  }

  /** xxhash64 (seed 42, Spark's default) of each element — identical to
    * `transform(arr, xxhash64)` with non-null elements. */
  def xxhash64Array(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      out(i) = if (s == null) 42L else XXH64.hashUTF8String(s, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Merge-walk intersection count of two ascending long arrays — zero
    * allocation; see [[SortedIntersectCountExpr]]. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
