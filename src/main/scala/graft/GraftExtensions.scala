package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{Md5MinHashSignature, NfcNormalizeExpr, SignLshBucketExpr, SimHashExpr, StripAccentsExpr, VecDotExpr, WordShinglesExpr}

/** Engine extension point: registers graft's native Catalyst expressions so
  * SQL users get them too. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — Verify,
  * Bench, and the test harness all do. DataFrame callers don't depend on
  * this (they wrap the expression directly via [[graft.functions.native]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("md5_minhash_sig"),
      new ExpressionInfo(classOf[Md5MinHashSignature].getName, "md5_minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(arr) => Md5MinHashSignature(arr, 16)
        case Seq(arr, Literal(p: Int, _)) => Md5MinHashSignature(arr, p)
        case _ => throw new IllegalArgumentException(
          "usage: md5_minhash_sig(array<string>[, perms: int literal])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShinglesExpr].getName, "word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(toks, Literal(n: Int, _)) => WordShinglesExpr(toks, n)
        case _ => throw new IllegalArgumentException(
          "usage: word_shingles(array<string>, n: int literal)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDotExpr].getName, "vec_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => VecDotExpr(a, b)
        case _ => throw new IllegalArgumentException(
          "usage: vec_dot(array<numeric>, array<numeric>)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "simhash32"),
      (args: Seq[Expression]) => args match {
        case Seq(toks) => SimHashExpr(toks)
        case _ => throw new IllegalArgumentException(
          "usage: simhash32(array<string>)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "nfc_normalize"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => NfcNormalizeExpr(s)
        case _ => throw new IllegalArgumentException("usage: nfc_normalize(string)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("strip_accents"),
      new ExpressionInfo(classOf[StripAccentsExpr].getName, "strip_accents"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => StripAccentsExpr(s)
        case _ => throw new IllegalArgumentException("usage: strip_accents(string)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("sign_lsh_bucket"),
      new ExpressionInfo(classOf[SignLshBucketExpr].getName, "sign_lsh_bucket"),
      (args: Seq[Expression]) => args match {
        case Seq(a, Literal(bits: Int, _)) => SignLshBucketExpr(a, bits)
        case _ => throw new IllegalArgumentException(
          "usage: sign_lsh_bucket(array<numeric>, bits: int literal)")
      }))
  }
}
