package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** MinHash signature over the ORACLE-SHARED hash family: base hash = first
  * 4 md5 bytes big-endian (TextFunctions.md5Hash32 ≡ the oracle's
  * `CAST('0x' || substr(md5(x),1,8) AS BIGINT)`), permutation p = the
  * affine remix `(（2p+3)·h + 7p+1) mod (2^31−1)` — small pinned constants
  * over a prime field, every step plain BIGINT SQL.
  *
  * Every declared MinHash-LSH query uses this family, so each one is
  * hash-checked against the DuckDB oracle. It runs as one native pass
  * (|arr| md5s + perms×|arr| integer mins inside codegen) instead of the
  * expression-combinator form (`transform(sequence(0, P-1), p ->
  * array_min(transform(arr, ...)))`), whose P × |arr| interpreted lambda
  * calls per row measured 146 s for 10k docs at sf0.1 (xxhash64 base).
  */
case class Md5MinHashSignature(child: Expression, perms: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(perms > 0 && perms <= Md5MinHashSignature.MaxPerms,
    s"perms must be in [1, ${Md5MinHashSignature.MaxPerms}]")

  // covariant override: AbstractDataType itself is private[sql]
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    Md5MinHashSignature.compute(input.asInstanceOf[ArrayData], perms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Md5MinHashSignature.compute($c, $perms)")

  override protected def withNewChildInternal(newChild: Expression): Md5MinHashSignature =
    copy(child = newChild)
}

object Md5MinHashSignature {
  val MaxPerms = 256
  /** 2^31 − 1 (prime). Products stay ≤ ~2^39, BIGINT-safe in any engine. */
  val Mod = 2147483647L
  def mulA(p: Int): Long = 2L * p + 3L
  def addB(p: Int): Long = 7L * p + 1L

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, perms: Int): ArrayData = {
    val out = new Array[Long](perms)
    java.util.Arrays.fill(out, Long.MaxValue)
    val md = digest.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        md.reset()
        val d = md.digest(s.getBytes)
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var p = 0
        while (p < perms) {
          val v = (mulA(p) * h + addB(p)) % Mod
          if (v < out(p)) out(p) = v
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
