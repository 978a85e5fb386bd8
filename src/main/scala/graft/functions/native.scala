package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge => B}

/** Column wrappers for graft's native Catalyst expressions (DataFrame-side
  * twin of the SQL registration in [[graft.GraftExtensions]]). */
object native {
  /** Full MinHash signature (array<bigint> of length `perms`) of a shingle
    * array over the oracle-shared md5 + mod-prime family, in one codegen'd
    * pass. See [[Md5MinHashSignature]]. */
  def md5MinHashSig(arr: Column, perms: Int): Column =
    B.column(Md5MinHashSignature(B.expression(arr), perms))

  /** Word n-gram shingles of a token array. See [[WordShinglesExpr]]. */
  def wordShingles(toks: Column, n: Int): Column =
    B.column(WordShinglesExpr(B.expression(toks), n))

  /** Index-ordered dot product of equal-length vectors. See [[VecDotExpr]]. */
  def vecDot(a: Column, b: Column): Column =
    B.column(VecDotExpr(B.expression(a), B.expression(b)))

  /** Sign-LSH bucket over the deterministic mod-101 hyperplane family.
    * See [[SignLshBucketExpr]]. */
  def signLshBucket(a: Column, bits: Int): Column =
    B.column(SignLshBucketExpr(B.expression(a), bits))

  /** 32-bit SimHash of a token array (md5-based, oracle-shared hash).
    * See [[SimHashExpr]]. */
  def simHash(toks: Column): Column =
    B.column(SimHashExpr(B.expression(toks)))

  /** Lexicographic min of per-element md5 hex. See [[ArrayDigestExprs]]. */
  def md5Min(arr: Column): Column =
    B.column(Md5MinExpr(B.expression(arr)))

  /** Per-element xxhash64 (seed 42). See [[ArrayDigestExprs]]. */
  def xxhash64Array(arr: Column): Column =
    B.column(XxHash64ArrayExpr(B.expression(arr)))

  /** Allocation-free |A ∩ B| of two ascending long arrays (merge walk).
    * See [[SortedIntersectCountExpr]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    B.column(SortedIntersectCountExpr(B.expression(a), B.expression(b)))

  /** NFC unicode normalization. See [[UnicodeExprs]]. */
  def nfcNormalize(s: Column): Column =
    B.column(NfcNormalizeExpr(B.expression(s)))

  /** Accent folding (NFD + drop combining marks). See [[UnicodeExprs]]. */
  def stripAccents(s: Column): Column =
    B.column(StripAccentsExpr(B.expression(s)))

  /** Aho–Corasick any-keyword containment. See [[MultiContainsExpr]]. */
  def multiContains(text: Column, keywords: Seq[String]): Column =
    B.column(MultiContainsExpr(B.expression(text), keywords))
}
