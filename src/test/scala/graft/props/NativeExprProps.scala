package graft.props

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Md5MinHashSignature, SimHashExpr, VectorExprs, WordShinglesExpr}

/** Algebraic laws of the native expression kernels (static JVM functions —
  * no SparkSession, so hundreds of samples stay cheap). The kernels'
  * equivalence to the HOF combinator forms / SQL oracle is covered by the
  * DuckDB differential gate; these pin the structural properties that the
  * gate's fixed dataset might not exercise. */
object NativeExprProps extends Properties("native-exprs") {

  private def strArr(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
  private def dblArr(xs: Seq[Double]): ArrayData =
    new GenericArrayData(xs.toArray[Any])
  private def longs(a: ArrayData): Seq[Long] =
    a.toLongArray().toSeq

  private val token: Gen[String] = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val tokens: Gen[List[String]] = Gen.listOf(token)
  private val vec: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.chooseNum(-10.0, 10.0)).map(_.take(64))

  // ——— WordShinglesExpr ———

  property("shingles = sliding windows joined by space") =
    Prop.forAll(tokens, Gen.choose(1, 5)) { (ts, n) =>
      val got = WordShinglesExpr.compute(strArr(ts), n)
      val want = if (ts.length < n) Seq.empty
        else ts.sliding(n).map(_.mkString(" ")).toSeq
      (0 until got.numElements()).map(got.getUTF8String(_).toString) == want
    }

  // ——— Md5MinHashSignature ———

  property("minhash: length = perms, order- and duplicate-invariant (set semantics)") =
    Prop.forAll(Gen.nonEmptyListOf(token), Gen.oneOf(8, 32)) { (ts, perms) =>
      val base = longs(Md5MinHashSignature.compute(strArr(ts), perms))
      val shuffled = longs(Md5MinHashSignature.compute(strArr(scala.util.Random.shuffle(ts)), perms))
      val doubled = longs(Md5MinHashSignature.compute(strArr(ts ++ ts), perms))
      base.length == perms && shuffled == base && doubled == base
    }

  property("minhash: adding an element never raises any coordinate") =
    Prop.forAll(Gen.nonEmptyListOf(token), token) { (ts, extra) =>
      val base = longs(Md5MinHashSignature.compute(strArr(ts), 32))
      val more = longs(Md5MinHashSignature.compute(strArr(ts :+ extra), 32))
      base.zip(more).forall { case (b, m) => m <= b }
    }

  // ——— SortedIntersectCountExpr ———

  property("sortedIntersectCount = set-intersection size on sorted-distinct inputs") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)),
                Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))) { (as, bs) =>
      val sa = as.distinct.sorted
      val sb = bs.distinct.sorted
      val got = graft.functions.ArrayDigestExprs.sortedIntersectCount(
        new GenericArrayData(sa.toArray), new GenericArrayData(sb.toArray))
      got == (sa.toSet intersect bs.toSet).size.toLong
    }

  property("sortedIntersectCount: shared-prefix overlap counts exactly") =
    Prop.forAll(Gen.chooseNum(0, 200), Gen.chooseNum(0, 200)) { (common, extra) =>
      // a = [0..common) ∪ evens shifted above; b = [0..common) ∪ odds above
      val base = (0L until common.toLong)
      val a = (base ++ (0 until extra).map(i => common + 2L * i)).toArray
      val b = (base ++ (0 until extra).map(i => common + 2L * i + 1)).toArray
      graft.functions.ArrayDigestExprs.sortedIntersectCount(
        new GenericArrayData(a), new GenericArrayData(b)) == common.toLong
    }

  // ——— SimHashExpr ———

  property("simhash of a single token = its 32-bit md5 hash") =
    Prop.forAll(token) { t =>
      // with one token every bit count is ±1 by the hash bit itself
      val h = SimHashExpr.compute(strArr(Seq(t)))
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      h == java.lang.Long.parseLong(hex, 16)
    }

  property("simhash: multiset-order invariant and in 32-bit range") =
    Prop.forAll(Gen.nonEmptyListOf(token)) { ts =>
      val a = SimHashExpr.compute(strArr(ts))
      val b = SimHashExpr.compute(strArr(scala.util.Random.shuffle(ts)))
      a == b && a >= 0L && a < (1L << 32)
    }

  // ——— MultiContainsExpr (Aho–Corasick) ———

  property("aho-corasick containsAny = exists(contains) on arbitrary text") =
    Prop.forAll(Gen.nonEmptyListOf(token), Gen.asciiPrintableStr,
        Gen.listOf(token)) { (kws, noise, embed) =>
      // text mixes arbitrary noise with some real keywords embedded
      val text = (embed.take(3) :+ noise).mkString("")
      val automaton = new graft.functions.MultiContainsExpr.Automaton(kws)
      automaton.containsAny(text) == kws.exists(text.contains)
    }

  property("aho-corasick: overlapping/prefix keywords still match (suffix links)") =
    Prop.forAll(token) { t =>
      val kws = Seq(t + "x", t) // t is a prefix of t+"x"
      val automaton = new graft.functions.MultiContainsExpr.Automaton(kws)
      automaton.containsAny(s"zz${t}zz") && automaton.containsAny(t + "x")
    }

  // ——— ArrayDigestExprs (q20 cache-projection kernels) ———

  property("md5Min = lexicographic min of per-element md5 hex; null for empty/all-null") =
    Prop.forAll(Gen.listOf(token)) { ts =>
      import graft.functions.ArrayDigestExprs
      def md5hex(t: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val got = ArrayDigestExprs.md5Min(strArr(ts))
      val emptyOk = ArrayDigestExprs.md5Min(
        new GenericArrayData(Array[Any](null, null))) == null
      emptyOk && (if (ts.isEmpty) got == null
                  else got.toString == ts.map(md5hex).min)
    }

  property("xxhash64Array matches Spark's xxhash64 per element (seed 42)") =
    Prop.forAll(Gen.nonEmptyListOf(token)) { ts =>
      import graft.functions.ArrayDigestExprs
      import org.apache.spark.sql.catalyst.expressions.XXH64
      longs(ArrayDigestExprs.xxhash64Array(strArr(ts))) ==
        ts.map(t => XXH64.hashUTF8String(UTF8String.fromString(t), 42L))
    }

  // ——— TopKAgg (the q42/q53 partial-aggregation kernel) ———

  private val scored: Gen[List[(Double, Long)]] =
    Gen.listOf(Gen.chooseNum(-1.0, 1.0)).map(_.zipWithIndex.map {
      case (s, i) => (math.rint(s * 1e4) / 1e4, i.toLong) // rounded, unique ids
    })

  property("topk: any partition split, any merge order = global sorted top-k") =
    Prop.forAll(scored, Gen.choose(1, 6), Gen.choose(1, 5)) { (xs, k, nChunks) =>
      import graft.functions.{ScoredId, TopKAgg}
      val agg = new TopKAgg(k)
      def better(x: ScoredId, y: ScoredId): Boolean =
        x.cos_sim > y.cos_sim || (x.cos_sim == y.cos_sim && x.vec_id < y.vec_id)
      val items = xs.map { case (s, i) => ScoredId(s, i) }
      // split into nChunks "partitions", reduce each, merge in reverse order
      val chunks = items.grouped(math.max(1, (items.size + nChunks - 1) / nChunks)).toList
      val buffers = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = buffers.reverse.foldLeft(agg.zero)(agg.merge)
      agg.finish(merged) == items.sortWith(better).take(k)
    }

  property("topk: NaN scores rank last and never block real candidates") =
    Prop.forAll(scored, Gen.choose(1, 4)) { (xs, k) =>
      import graft.functions.{ScoredId, TopKAgg}
      val agg = new TopKAgg(k)
      def better(x: ScoredId, y: ScoredId): Boolean =
        x.cos_sim > y.cos_sim || (x.cos_sim == y.cos_sim && x.vec_id < y.vec_id)
      val reals = xs.map { case (s, i) => ScoredId(s, i) }
      // NaN arrives FIRST (the order that used to poison the buffer)
      val buf = (ScoredId(Double.NaN, 999999L) +: reals).foldLeft(agg.zero)(agg.reduce)
      val want =
        if (reals.size >= k) reals.sortWith(better).take(k)
        else reals.sortWith(better) :+ ScoredId(Double.NaN, 999999L)
      // NaN != NaN under case-class equality — compare NaN-aware keys
      def key(s: ScoredId) = (java.lang.Double.isNaN(s.cos_sim),
        if (java.lang.Double.isNaN(s.cos_sim)) 0.0 else s.cos_sim, s.vec_id)
      agg.finish(buf).map(key) == want.map(key)
    }

  property("topk: buffer never exceeds k and stays best-first sorted") =
    Prop.forAll(scored, Gen.choose(1, 4)) { (xs, k) =>
      import graft.functions.{ScoredId, TopKAgg}
      val agg = new TopKAgg(k)
      val buf = xs.map { case (s, i) => ScoredId(s, i) }.foldLeft(agg.zero)(agg.reduce)
      buf.size <= k && buf.zip(buf.drop(1)).forall { case (a, b) =>
        a.cos_sim > b.cos_sim || (a.cos_sim == b.cos_sim && a.vec_id < b.vec_id)
      }
    }

  // ——— VectorExprs ———

  property("dot: commutative, and dot(a,a) = Σa²") =
    Prop.forAll(vec) { a =>
      val ad = dblArr(a)
      val selfDot = VectorExprs.dotCompute(ad, ad, false, false)
      val naive = a.foldLeft(0.0)((acc, x) => acc + x * x)
      selfDot == naive &&
        VectorExprs.dotCompute(ad, dblArr(a.reverse), false, false) ==
          VectorExprs.dotCompute(dblArr(a.reverse), ad, false, false)
    }

  property("lsh bucket: in range; exact-power-of-two scaling preserves it; negation changes it when any projection is nonzero") =
    Prop.forAll(vec, Gen.oneOf(4, 8, 16)) { (a, bits) =>
      val b = VectorExprs.lshCompute(dblArr(a), bits, false)
      val scaled = VectorExprs.lshCompute(dblArr(a.map(_ * 4.0)), bits, false)
      b >= 0L && b < (1L << bits) && scaled == b
    }
}
