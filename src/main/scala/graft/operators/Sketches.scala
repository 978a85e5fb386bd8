package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.md5Hash32

/** Approximate-counting sketches, built deterministic-by-construction so
  * the DuckDB oracle can replay them bit-for-bit. `approx_count_distinct`
  * exists in both engines but with engine-private hash functions and
  * register layouts — useless for differential testing. This HLL uses the
  * shared md5-derived 32-bit hash (the same family as q49/q55), so the
  * SKETCH ITSELF is oracle-verified, not just its final estimate.
  */
object Sketches {

  /** HyperLogLog precision: 2^8 = 256 registers (~6.5% standard error —
    * the audit-dashboard regime; production would use p=12–14). Shared
    * with the q65 oracle via interpolation. */
  val hllP = 8
  val hllM = 1 << hllP // 256

  /** HyperLogLog distinct-user estimate over the event stream, next to
    * the exact count and relative error — the cardinality monitor a
    * pipeline runs per partition/day when exact `count(distinct)` is too
    * expensive. Scale shape: the register table is the ONLY shuffle —
    * partial `max` per (bucket) collapses each map partition to ≤256
    * rows before the exchange, so 100 TB of events reduce to 256
    * registers regardless of input size (exactly the HLL promise; the
    * exact count pays a full distinct shuffle next to it, which is the
    * point of the comparison).
    *
    * Determinism: bucket = top 8 bits of the md5-32 hash, rho = leading
    * zeros in the remaining 24 bits + 1 (`25 - bit_length`), registers
    * are max(rho). `floor(log2(w))` is safe for bit-length — for w < 2^24
    * the distance of log2(w) from an integer is ≥ 8.6e-8 for non-powers,
    * orders of magnitude above any libm ulp disagreement. The register
    * inverse-power sum adds ≤256 exact powers of two ≥ 2^-25 — every
    * partial sum is exactly representable, so summation order (which
    * differs between engines) cannot change the result. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = hllM
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / m)
    val h = md5Hash32($"user_id".cast("string"))
    val w = h.bitwiseAND(lit(16777215L))
    val regs = Tables.events(spark, dir)
      .select(
        shiftright(h, 24).as("bucket"),
        when(w === 0, lit(25))
          .otherwise(lit(25) - (floor(log2(w)) + lit(1))).cast("long").as("rho"))
      .groupBy($"bucket")
      .agg(max($"rho").as("reg"))
    val est = regs.agg(
        count(lit(1)).as("present"),
        sum(pow(lit(2.0), -$"reg")).as("sinv"))
      .select(
        (alpha * m * m / ($"sinv" + (lit(m) - $"present"))).as("e_raw"),
        (lit(m) - $"present").as("v"))
      // standard small-range correction: linear counting when the raw
      // estimate is ≤ 2.5m and zero registers remain
      .select(
        Quant.r4(round( // round-ok: ulp-snap on ln before quantize (round-7 discipline)
          when($"e_raw" <= lit(2.5 * m) && $"v" > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / $"v"))
            .otherwise($"e_raw"), 8)).as("hll_estimate"))
    val exact = Tables.events(spark, dir)
      .agg(countDistinct($"user_id").as("exact_distinct"))
    est.crossJoin(exact)
      .select($"hll_estimate", $"exact_distinct",
        Quant.r4(abs($"hll_estimate" - $"exact_distinct") /
          $"exact_distinct".cast("double")).as("rel_err"))
  }

  /** Count-Min sketch depth × width: 4 md5-salted hash rows over 256
    * buckets (~1 KB of counters). Production would widen w to bound the
    * ε=e/w overestimate; the audit regime keeps collisions VISIBLE so the
    * overestimate column is non-trivially exercised. */
  val cmsD = 4
  val cmsW = 256

  /** Count-Min heavy hitters over the document token stream, with the
    * exact counts alongside — the "what are the top terms, cheaply"
    * monitor plus its own error audit. CMS estimate of token t =
    * min over rows r of Σ counts colliding in bucket_r(t); the estimate
    * NEVER undercounts, so `overest ≥ 0` is a structural invariant (and
    * the oracle hash-match replays every collision).
    *
    * Determinism: bucket_r(t) = md5-32(t ‖ '#' ‖ r) mod 256 — the shared
    * q49/q55/q65 hash family, exact in both engines; all counters are
    * BIGINT sums.
    *
    * Scale shape: the corpus is tokenized ONCE into the (token, cnt)
    * relation — one shuffle with map-side combine — and both halves
    * derive from it: the 4×256 sketch via a ×4 flatMap over DISTINCT
    * tokens (tiny), and the exact top-k via TakeOrdered. Sketching from
    * counts is algebraically identical to sketching the raw stream; a
    * pipeline that only wants the sketch skips the token shuffle
    * entirely and partial-aggregates (r, bucket) map-side to ≤1024 rows
    * per partition — the q65 HLL pattern. The exact counts here are the
    * audit half, not the product. */
  def countMinHeavyHitters(spark: SparkSession, dir: String,
                           k: Int = 20): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val tc = graft.CacheGuard.barrier(
      Tables.documents(spark, dir)
        .select(explode(tokens($"text")).as("t"))
        .groupBy($"t").agg(count(lit(1)).as("cnt")))
    val rows = spark.range(cmsD).select($"id".as("r"))
    def bucket(tok: Column, r: Column): Column =
      md5Hash32(concat(tok, lit("#"), r.cast("string"))) % cmsW
    val sketch = tc.crossJoin(rows)
      .groupBy($"r", bucket($"t", $"r").as("bucket"))
      .agg(sum($"cnt").as("bsum"))
    val top = tc.orderBy($"cnt".desc, $"t".asc).limit(k)
    // re-alias the probe side's row index: the sketch is built from the
    // same `rows` dataset, and unaliased reuse trips ambiguous-self-join
    val probes = top.crossJoin(rows.select($"r".as("pr")))
      .select($"t", $"cnt", $"pr", bucket($"t", $"pr").as("pbucket"))
    probes.join(sketch,
        probes("pr") === sketch("r") && probes("pbucket") === sketch("bucket"))
      .groupBy($"t")
      .agg(max($"cnt").as("exact_cnt"), min($"bsum").as("cms_est"))
      .select($"t".as("token"), $"exact_cnt", $"cms_est",
        ($"cms_est" - $"exact_cnt").as("overest"))
      .orderBy($"exact_cnt".desc, $"token".asc)
  }

  /** Join-cardinality estimation by Count-Min inner product — the
    * cost-model primitive: |L ⋈ R on k| = Σ_k cntL(k)·cntR(k), estimated
    * as min over the 4 hash rows of Σ_b skL[r][b]·skR[r][b] WITHOUT
    * touching the join. Collisions only ever ADD mass, so the estimate
    * upper-bounds the exact size (`overest ≥ 0` structural, AMS/CMS
    * classic). Sides here: view events vs purchase events on user_id —
    * both genuinely multi-valued, so the product term is non-trivial.
    *
    * Scale shape: each side's sketch is 4×256 BIGINTs buildable map-side
    * in one pass (partial agg on (r, bucket) — the q65 HLL collapse);
    * estimating a join across 100 TB then costs two ~8 KB sketch merges
    * and never shuffles either input. The exact Σ cnt·cnt per-key join
    * alongside is the audit half. */
  def cmsJoinCardinality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def sideCounts(t: String) =
      Tables.events(spark, dir).filter($"event_type" === t)
        .groupBy($"user_id".as("k")).agg(count(lit(1)).as("cnt"))
    val lhs = graft.CacheGuard.barrier(sideCounts("view"))
    val rhs = graft.CacheGuard.barrier(sideCounts("purchase"))
    val exact = lhs.join(rhs.withColumnRenamed("cnt", "cnt2"), "k")
      .agg(sum($"cnt" * $"cnt2").as("exact_size"))
    def sketchOf(side: DataFrame): DataFrame = {
      val rows = side.sparkSession.range(cmsD).select($"id".as("r"))
      side.crossJoin(rows)
        .groupBy($"r",
          (md5Hash32(concat($"k".cast("string"), lit("#"),
            $"r".cast("string"))) % cmsW).as("bucket"))
        .agg(sum($"cnt").as("s"))
    }
    val est = sketchOf(lhs).as("a").join(sketchOf(rhs).as("b"),
        $"a.r" === $"b.r" && $"a.bucket" === $"b.bucket")
      .groupBy($"a.r").agg(sum($"a.s" * $"b.s").as("ip"))
      .agg(min($"ip").as("cms_estimate"))
    exact.crossJoin(est)
      .select($"exact_size", $"cms_estimate",
        ($"cms_estimate" - $"exact_size").as("overest"),
        Quant.r4(($"cms_estimate" - $"exact_size").cast("double") /
          $"exact_size".cast("double")).as("rel_err"))
  }

  /** The HLL MERGE theorem as a query — the property that makes sketches
    * the incremental/distributed answer to distinct-counting: registers
    * built on two disjoint halves of the stream, merged register-wise by
    * `max`, are IDENTICAL to registers built on the whole stream — so
    * `estimate(merge(A, B)) = estimate(A ∪ B)` exactly, not
    * approximately. Operationally this is why per-partition / per-day
    * sketches can be stored tiny and folded later without ever rescanning
    * history (the q88/q105 incremental-maintenance story, for sketches).
    *
    * The engine genuinely computes BOTH paths — two independent sketches
    * (events split by even/odd id) merged by bucket-max, and one direct
    * sketch over everything — and reports both estimates plus their
    * difference, which the structural theorem pins to exactly 0.0. Each
    * path is the q65 register collapse: map partitions reduce to ≤256
    * rows before any exchange. */
  def hllMergeAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = hllM
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / m)
    def regsOf(df: DataFrame): DataFrame = {
      val h = md5Hash32($"user_id".cast("string"))
      val w = h.bitwiseAND(lit(16777215L))
      df.select(
          shiftright(h, 24).as("bucket"),
          when(w === 0, lit(25))
            .otherwise(lit(25) - (floor(log2(w)) + lit(1))).cast("long")
            .as("rho"))
        .groupBy($"bucket").agg(max($"rho").as("reg"))
    }
    def estOf(regs: DataFrame, name: String): DataFrame =
      regs.agg(count(lit(1)).as("present"),
          sum(pow(lit(2.0), -$"reg")).as("sinv"))
        .select(
          (alpha * m * m / ($"sinv" + (lit(m) - $"present"))).as("e_raw"),
          (lit(m) - $"present").as("v"))
        .select(Quant.r4(round( // round-ok: ulp-snap on ln before quantize (round-7 discipline)
          when($"e_raw" <= lit(2.5 * m) && $"v" > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / $"v"))
            .otherwise($"e_raw"), 8)).as(name))
    val ev = Tables.events(spark, dir)
    val merged = regsOf(ev.filter($"event_id" % 2 === 0))
      .unionByName(regsOf(ev.filter($"event_id" % 2 =!= 0)))
      .groupBy($"bucket").agg(max($"reg").as("reg"))
    estOf(merged, "merged_estimate")
      .crossJoin(estOf(regsOf(ev), "direct_estimate"))
      .select($"merged_estimate", $"direct_estimate",
        Quant.r4($"merged_estimate" - $"direct_estimate").as("diff"))
  }

  /** Per-group HyperLogLog — the grouped form of [[hllDistinct]] and the
    * shape that matters operationally: distinct users PER event type (per
    * partition/day/tenant in production), each next to its exact count
    * and relative error. This is the query pattern where the sketch pays
    * for itself — G groups × m registers replaces G full distinct
    * shuffles with ONE aggregation whose exchange carries ≤ G·256 rows.
    *
    * The register math is [[hllDistinct]]'s verbatim (same md5-32 hash,
    * same rho, same bias constant, same linear-counting small-range
    * correction) with `event_type` added to every grouping key — which is
    * exactly how a production rollup generalizes a global sketch: HLL
    * registers are mergeable BY KEY, so the same partial-aggregation
    * collapse happens map-side per group. The exact `count(distinct)` per
    * group alongside is the audit half (it pays the real per-group
    * distinct shuffle — the cost the sketch column avoids). */
  def groupedHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = hllM
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / m)
    val h = md5Hash32($"user_id".cast("string"))
    val w = h.bitwiseAND(lit(16777215L))
    val regs = Tables.events(spark, dir)
      .select($"event_type",
        shiftright(h, 24).as("bucket"),
        when(w === 0, lit(25))
          .otherwise(lit(25) - (floor(log2(w)) + lit(1))).cast("long").as("rho"))
      .groupBy($"event_type", $"bucket")
      .agg(max($"rho").as("reg"))
    val est = regs.groupBy($"event_type")
      .agg(
        count(lit(1)).as("present"),
        sum(pow(lit(2.0), -$"reg")).as("sinv"))
      .select($"event_type",
        (alpha * m * m / ($"sinv" + (lit(m) - $"present"))).as("e_raw"),
        (lit(m) - $"present").as("v"))
      .select($"event_type",
        Quant.r4(round( // round-ok: ulp-snap on ln before quantize (round-7 discipline)
          when($"e_raw" <= lit(2.5 * m) && $"v" > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / $"v"))
            .otherwise($"e_raw"), 8)).as("hll_estimate"))
    val exact = Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_distinct"))
    est.join(exact, "event_type")
      .select($"event_type", $"hll_estimate", $"exact_distinct",
        Quant.r4(abs($"hll_estimate" - $"exact_distinct") /
          $"exact_distinct".cast("double")).as("rel_err"))
      .orderBy($"event_type")
  }

  /** Quantile-sketch sample size and audited probabilities, shared with
    * the q142 oracle. */
  val qsK = 256
  val qsProbs = Seq(0.25, 0.5, 0.75, 0.95)

  /** The QUANTILE-sketch merge theorem as a query — q119's pattern for
    * order statistics: a bottom-k-BY-HASH sketch (the k rows with the
    * smallest md5-32 of their primary key) is a uniform random sample
    * fixed by the hash function, and it is MERGEABLE exactly:
    * bottomK(bottomK(A) ∪ bottomK(B)) = bottomK(A ∪ B), because any of
    * the union's k smallest is among its own half's k smallest. The
    * engine computes both paths over lineitem prices split by
    * l_orderkey parity — per-half sketches merged, and one direct
    * sketch — takes sample quantiles from each (value at rank
    * ⌊(n−1)·p⌋+1 of the sample ordered by value), and reports them
    * against the EXACT rank quantile of the full relation; `merge_diff`
    * is pinned to exactly 0.0 by the theorem, `rel_err` is the sample
    * error a k-row sketch pays (bounded, and the point of the audit).
    *
    * Unlike `percentile_approx` (whose KLL-ish sketch state is
    * engine-private), every number here is replayable bit-for-bit in
    * DuckDB — the SKETCH is oracle-verified, not just plausible.
    *
    * Scale shape: each bottom-k plans as TakeOrdered — O(parts × k)
    * exchange, no full sort; quantile extraction windows over k-row
    * relations. The exact column is the audit half and pays a real
    * global rank — distributed as a two-phase range rank (local rank per
    * sorted range + broadcast offsets; no single-partition window), so
    * even the audit scales; at 100 TB it is still the column you drop,
    * exactly like q65's exact count(distinct). */
  def quantileMergeAudit(spark: SparkSession, dir: String,
                         k: Int = qsK): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select(
      md5Hash32(concat($"l_orderkey".cast("string"), lit(":"),
        $"l_linenumber".cast("string"))).as("h"),
      $"l_extendedprice".as("v"),
      ($"l_orderkey" % 2).as("part"))
    def sketch(df: DataFrame): DataFrame =
      df.select($"h", $"v").orderBy($"h", $"v").limit(k)
    val merged = sketch(
      sketch(li.filter($"part" === 0)).unionByName(
        sketch(li.filter($"part" === 1))))
    val direct = sketch(li)
    val probs = qsProbs.toDF("p")
    def quantilesOf(rel: DataFrame, name: String): DataFrame = {
      val ranked = rel.select($"v").withColumn("rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"v")))  // global-window-ok: O(sketch k-sample)
      val cnt = rel.agg(count(lit(1)).as("n"))
      probs.crossJoin(broadcast(cnt))
        .select($"p", (floor(($"n" - 1) * $"p") + 1).as("rk"))
        .join(ranked, $"rk" === $"rn")
        .select($"p", $"v".as(name))
    }
    // The EXACT audit column ranks the FULL relation — as a global
    // window that was the one corpus-sized single-partition window left
    // in the suite (measured: 1.9 s single-threaded at sf0.1, linear in
    // the corpus). Re-keyed (round 18, guide §2.5 "split very large
    // [groups] into ranges so no single window task is huge") to a
    // two-phase rank: range-partition by value, rank locally per sorted
    // range, add the broadcast cumulative offset of preceding ranges
    // (O(partitions) rows). Global rank of every row is identical —
    // ranges are disjoint and ordered — so the selected values match the
    // single-window form exactly (ties among equal v get arbitrary
    // distinct ranks in both forms; only v is selected).
    def exactQuantilesOf(rel: DataFrame, name: String): DataFrame = {
      val byRange = rel.select($"v")
        .repartitionByRange(spark.sparkContext.defaultParallelism, $"v")
        .withColumn("pid", spark_partition_id())
      val local = byRange.withColumn("lrn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"pid").orderBy($"v")))
      val offs = byRange.groupBy($"pid").agg(count(lit(1)).as("c"))
        .withColumn("off", coalesce(sum($"c").over(
          org.apache.spark.sql.expressions.Window.orderBy($"pid")  // global-window-ok: O(partitions)
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select($"pid", $"off")
      val ranked = local.join(broadcast(offs), "pid")
        .select($"v", ($"lrn" + $"off").as("rn"))
      val cnt = rel.agg(count(lit(1)).as("n"))
      probs.crossJoin(broadcast(cnt))
        .select($"p", (floor(($"n" - 1) * $"p") + 1).as("rk"))
        .join(ranked, $"rk" === $"rn")
        .select($"p", $"v".as(name))
    }
    exactQuantilesOf(li, "exact_q")
      .join(quantilesOf(direct, "direct_q"), "p")
      .join(quantilesOf(merged, "merged_q"), "p")
      .select($"p", $"exact_q", $"direct_q", $"merged_q",
        Quant.r4($"merged_q" - $"direct_q").as("merge_diff"),
        Quant.r4(abs($"merged_q" - $"exact_q") / $"exact_q").as("rel_err"))
      .orderBy($"p")
  }

  /** KMV (bottom-k / theta-sketch) size, shared with the q131 oracle. */
  val kmvK = 64

  /** KMV set-INTERSECTION estimate — the operation HLL structurally
    * cannot do (HLL only unions): audience overlap between two event
    * segments (viewers ∩ purchasers) from two bottom-k sketches, next to
    * the exact intersection. Theta-sketch semantics (Dasgupta et al.):
    * each side keeps its k smallest distinct md5-32 hashes; θ = the
    * smaller of the two k-th minima; every retained hash below θ is a
    * uniform 1-in-(2³²/θ) sample of its set, so
    * |A∩B| ≈ |{h ∈ skA ∩ skB : h < θ}| · 2³² / θ.
    *
    * Determinism: the hash family is the shared q65 md5-32, the k-th
    * minima are integers, and the one division happens once at the end —
    * both engines replay the sketch bit-for-bit (the estimate is
    * oracle-VERIFIED, not just plausible). Scale shape: each side's
    * bottom-k plans as distinct-then-TakeOrdered — O(parts × k) exchange
    * after a map-side partial distinct; the sketch intersection joins two
    * k-row relations. The exact `count(distinct)` intersection alongside
    * pays the real shuffle — it is the audit half, and at 100 TB it is
    * the column you drop. */
  def kmvIntersection(spark: SparkSession, dir: String,
                      k: Int = kmvK): DataFrame = {
    import spark.implicits._
    def hashes(t: String): DataFrame =
      Tables.events(spark, dir).filter($"event_type" === t)
        .select(md5Hash32($"user_id".cast("string")).as("h")).distinct()
    def sketch(df: DataFrame): DataFrame =
      df.orderBy($"h".asc).limit(k)
    val skA = graft.CacheGuard.barrier(sketch(hashes("view")))
    val skB = graft.CacheGuard.barrier(sketch(hashes("purchase")))
    val range = math.pow(2.0, 32)
    def kth(df: DataFrame, name: String): DataFrame =
      df.agg(max($"h").as(name)) // the k-th minimum of the set
    val theta = kth(skA, "ka").crossJoin(kth(skB, "kb"))
      .select(least($"ka", $"kb").as("theta"))
    val sampleHits = skA.join(skB, "h")
      .crossJoin(broadcast(theta))
      .filter($"h" < $"theta")
      .agg(count(lit(1)).as("n_sample"))
    val exact = Tables.events(spark, dir).filter($"event_type" === "view")
      .select($"user_id").intersect(
        Tables.events(spark, dir).filter($"event_type" === "purchase")
          .select($"user_id"))
      .agg(count(lit(1)).as("exact_overlap"))
    sampleHits.crossJoin(theta).crossJoin(exact)
      .select(
        $"n_sample", $"theta", $"exact_overlap",
        Quant.r4($"n_sample".cast("double") * lit(range) /
          $"theta".cast("double")).as("kmv_estimate"))
      .select($"n_sample", $"theta", $"kmv_estimate", $"exact_overlap",
        Quant.r4(abs($"kmv_estimate" - $"exact_overlap") /
          $"exact_overlap".cast("double")).as("rel_err"))
  }

  /** Rolling 7-observed-day distinct users via MERGEABLE per-day HLL
    * sketches — the sketch answer to the q180 rolling-DISTINCT problem
    * (neither engine supports distinct as a window aggregate; q180
    * solves it exactly with the grid fan-out, which at 100 TB still
    * shuffles the full user-day grid — here each day collapses to 256
    * registers FIRST, the 7-day merge is a register-wise `max` over the
    * O(days × 256) relation, and the window estimate costs the same
    * whether the day held a thousand users or a billion; register
    * max-merge is exactly union, the HLL property q119 proves in the
    * static case, applied to sliding windows). The exact trailing
    * count (q180's machinery) runs alongside so the per-window error
    * is measured, not assumed — at scale the exact half is the
    * documented drop.
    *
    * Determinism: the q65 register laws verbatim (md5 buckets, exact
    * powers of two in the inverse sum, round-8 ln snap). The day
    * fan-out multiplies the O(days × 256) register relation and the
    * distinct user-day grid — never the raw stream (q180's argument). */
  def rollingHllWau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = hllM
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / m)
    val h = md5Hash32($"user_id".cast("string"))
    val w = h.bitwiseAND(lit(16777215L))
    val ev = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("d"))
    val days = graft.CacheGuard.barrier(ev.select($"d").distinct()
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"d")).cast("long")))  // global-window-ok: O(days)
    val maxIdx = days.agg(max($"idx").as("max_idx"))
    // per-day registers, fanned to every window they participate in
    val dayRegs = ev
      .select($"d", shiftright(h, 24).as("bucket"),
        when(w === 0, lit(25))
          .otherwise(lit(25) - (floor(log2(w)) + lit(1))).cast("long")
          .as("rho"))
      .groupBy($"d", $"bucket").agg(max($"rho").as("reg"))
    val merged = dayRegs.join(broadcast(days), "d")
      .crossJoin(broadcast(maxIdx))
      .select(explode(sequence($"idx", least($"idx" + 6, $"max_idx")))
        .as("tidx"), $"bucket", $"reg")
      .groupBy($"tidx", $"bucket").agg(max($"reg").as("reg"))
    val est = merged.groupBy($"tidx")
      .agg(count(lit(1)).as("present"),
        sum(pow(lit(2.0), -$"reg")).as("sinv"))
      .select($"tidx",
        (alpha * m * m / ($"sinv" + (lit(m) - $"present"))).as("e_raw"),
        (lit(m) - $"present").as("v"))
      .select($"tidx",
        Quant.r4(round( // round-ok: ulp-snap on ln before quantize (round-7 discipline)
          when($"e_raw" <= lit(2.5 * m) && $"v" > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / $"v"))
            .otherwise($"e_raw"), 8)).as("hll_wau"))
    // exact trailing-7-observed-day distinct users (q180's grid fan-out)
    val exact = ev.distinct().join(broadcast(days), "d")
      .crossJoin(broadcast(maxIdx))
      .select(explode(sequence($"idx", least($"idx" + 6, $"max_idx")))
        .as("tidx"), $"user_id")
      .distinct()
      .groupBy($"tidx").agg(count(lit(1)).as("exact_wau"))
    est.join(exact, "tidx").join(broadcast(days), $"tidx" === days("idx"))
      .select($"d".as("day"), least($"tidx", lit(7L)).as("window_days"),
        $"hll_wau", $"exact_wau",
        Quant.r4(abs($"hll_wau" - $"exact_wau") /
          $"exact_wau".cast("double")).as("rel_err"))
      .orderBy($"day")
  }

  /** Two-pass exact heavy hitters with a Misra–Gries candidate pass —
    * the DETERMINISTIC-guarantee counterpart of q99's CMS (which can
    * only overestimate probabilistically): pass 1 runs the mergeable MG
    * summary ([[graft.functions.MisraGriesAgg]]) over the raw token
    * stream, whose exchange carries O(partitions × k) buffer rows
    * instead of the O(vocab) full `groupBy(token)` exchange; pass 2
    * re-scans the stream filtered to the ≤ k candidates (broadcast) and
    * counts them exactly. The final filter keeps items whose EXACT count
    * exceeds N/(k+1) — the MG guarantee says every such item is a
    * candidate, so the output is deterministic even though the MG
    * summary itself is merge-order-dependent below the threshold.
    * Candidate-pass total N rides the same single-row aggregate as the
    * summary (no third scan); `share_bp` is exact integer division
    * (cnt·10⁴ div N), never a rounded double. */
  def mgHeavyHittersOf(toks: DataFrame, k: Int): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val agg1 = toks.agg(
      graft.functions.MisraGries.mgSummary(k)($"t").as("mg"),
      count(lit(1)).as("n_total"))
    val cand = agg1.select(explode(map_keys($"mg")).as("t"), $"n_total")
    toks.join(broadcast(cand), Seq("t"))
      .groupBy($"t", $"n_total").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * (k + 1) > $"n_total")
      .select($"t".as("token"), $"cnt", $"n_total",
        expr("cnt * 10000 div n_total").as("share_bp"))
      .orderBy($"cnt".desc, $"token")
  }

  /** Declared query: exact corpus heavy hitters (frequency > N/(k+1),
    * k = 32) over `documents` tokens via the MG candidate pass. */
  def mgHeavyHitters(spark: SparkSession, dir: String,
                     k: Int = 32): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    def toks = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("t"))
    mgHeavyHittersOf(toks, k)
  }

  /** AMS sketch width for [[amsF2]], shared with the q282 oracle. */
  val amsS = 16

  /** AMS F2 SKETCH (q282) — the Alon–Matias–Szegedy second frequency
    * moment estimator, the sketch-kit member Count-Min (q99) and HLL
    * (q65) cannot replace: F2 = Σ_t cnt(t)² is the self-join size of
    * the token stream (the skew statistic query optimizers and
    * repartitioners price joins with; F2/n² is the collision
    * probability of two random tokens). Each of [[amsS]] counters
    * folds every token with a deterministic ±1 hash
    * (md5-32("ams<i>#<token>") parity — the four-wise family's role,
    * replayed identically by the oracle); counter i's estimate is
    * z_i², and the sketch estimate is the mean. E[z²] = F2 exactly;
    * Var/F2² ≤ 2/s — the 16-counter table shows the spread AND the
    * estimate, next to the exact F2 and a basis-point error.
    *
    * Scale shape: the signed fold is algebraically a sum over the
    * token-frequency table (sketching counts ≡ sketching the raw
    * stream), so the corpus pays ONE token-keyed count (the same
    * relation q99 caches); the 16 signed sums partial-aggregate
    * map-side to ≤16 rows per partition — at 100 TB the sketch side
    * shuffles 16 BIGINTs. The exact F2 (Σ cnt² over the same cached
    * counts) is the audit half. All-integer end to end. */
  def amsF2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val tc = graft.CacheGuard.barrier(
      Tables.documents(spark, dir)
        .select(explode(tokens($"text")).as("t"))
        .groupBy($"t").agg(count(lit(1)).as("cnt")))
    val counters = spark.range(amsS).select($"id".as("i"))
    val signed = graft.CacheGuard.barrier(tc.crossJoin(counters)
      .select($"i",
        (when(md5Hash32(concat(lit("ams"), $"i".cast("string"),
          lit("#"), $"t")) % 2 === 0, lit(1L)).otherwise(lit(-1L)) *
          $"cnt").as("sgn"))
      .groupBy($"i").agg(sum($"sgn").as("z"))
      .select($"i".as("counter_id"), $"z", ($"z" * $"z").as("z2")))
    val est = signed.agg(
      expr(s"sum(z2) div ${amsS.toLong}").as("f2_est"))
    val exact = tc.agg(sum($"cnt" * $"cnt").as("f2_exact"),
      sum($"cnt").as("n_tokens"))
    signed.crossJoin(broadcast(est)).crossJoin(broadcast(exact))
      .select($"counter_id", $"z", $"z2", $"f2_est", $"f2_exact",
        $"n_tokens",
        expr("abs(f2_est - f2_exact) * 10000 div f2_exact")
          .as("err_bp"))
      .orderBy($"counter_id")
  }

  /** KMV/THETA A-NOT-B (q288) — the set-DIFFERENCE estimator pairing
    * [[kmvIntersection]] (round 7): how much of source A's shingle
    * vocabulary is UNIQUE to it (never appears in source B) — the
    * cross-source novelty question behind "does src0 add anything the
    * corpus doesn't already have", which HLL structurally cannot
    * answer (union-only) and the intersection sketch only
    * half-answers. Theta rule: θ = min of the two k-th minima; the
    * A-not-B sample is {h ∈ skA : h < θ ∧ h ∉ skB}; estimate =
    * |sample| · 2³² / θ. The exact EXCEPT runs alongside as the audit
    * half — at 100 TB the exact side is the documented drop and the
    * sketches (two k-row relations) are what cross the wire.
    *
    * Scale shape: each side's sketch is a bottom-k over hashed
    * distinct shingles (TakeOrdered — k rows per partition
    * pre-reduce); the A-not-B sample is one k-row anti-join against a
    * k-row broadcast; every denominator is a 1-row aggregate. */
  def kmvANotB(spark: SparkSession, dir: String,
               srcA: String = "src0", srcB: String = "src1",
               k: Int = kmvK): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.{tokens, wordShingles}
    def shingles(src: String): DataFrame =
      Tables.documents(spark, dir).filter($"source" === src)
        .select(explode(wordShingles(tokens($"text"), 3)).as("sh"))
        .distinct()
    def sketch(src: String): DataFrame =
      shingles(src).select(md5Hash32($"sh").as("h")).distinct()
        .orderBy($"h".asc).limit(k)
    val skA = graft.CacheGuard.barrier(sketch(srcA))
    val skB = graft.CacheGuard.barrier(sketch(srcB))
    val range = math.pow(2.0, 32)
    val theta = skA.agg(max($"h").as("ka"))
      .crossJoin(skB.agg(max($"h").as("kb")))
      .select(least($"ka", $"kb").as("theta"))
    val sample = skA.join(skB, Seq("h"), "left_anti")
      .crossJoin(broadcast(theta))
      .filter($"h" < $"theta")
      .agg(count(lit(1)).as("n_sample"))
    val exact = shingles(srcA).except(shingles(srcB))
      .agg(count(lit(1)).as("exact_diff"))
    sample.crossJoin(theta).crossJoin(exact)
      .select($"n_sample", $"theta", $"exact_diff",
        Quant.r4($"n_sample".cast("double") * lit(range) /
          $"theta".cast("double")).as("kmv_estimate"))
      .select($"n_sample", $"theta", $"kmv_estimate", $"exact_diff",
        // an empty true difference (every viewer purchased — the
        // gate-SF regime) has no relative error; sentinel -1
        when($"exact_diff" === 0L, lit(-1.0)).otherwise(
          Quant.r4(abs($"kmv_estimate" - $"exact_diff") /
            $"exact_diff".cast("double")) + lit(0.0)).as("rel_err"))
  }
}
