package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Product-analytics operators over the event stream — the reporting
  * queries the reference's ingest feeds downstream (SURVEY.md §2.6's
  * reporting family taken to its standard warehouse forms). Both are
  * pure keyed-aggregation shapes: no windows over the raw stream, no
  * driver-side loops, deterministic output order.
  */
object Analytics {

  /** Weekly cohort retention — the canonical activation/retention matrix:
    * users are assigned to the week of their FIRST event (the cohort),
    * and each (cohort, week-offset) cell counts the cohort's users still
    * active that many weeks later, with the retention rate against the
    * cohort's size.
    *
    * Scale shape (100 TB of events):
    *   - the per-user first-week table is ONE user-keyed aggregation with
    *     map-side partial `min` — the only pass that sees every event row
    *     twice is avoided by joining events back on the SAME user_id key,
    *     so the exchange from the first aggregate is reusable and no
    *     broadcast of an O(users) table is ever attempted;
    *   - the (cohort, offset, user) DISTINCT collapses multiple events per
    *     user-week map-side before its exchange (partial aggregation on
    *     the distinct key);
    *   - cohort sizes come from the retained table itself (offset 0 holds
    *     every cohort member by construction), an O(cohorts) relation that
    *     broadcasts back — the event stream is never re-scanned.
    *
    * Weeks are `date_trunc('week', ts)` Mondays in both engines; offsets
    * are exact day-diffs divided by 7 (both operands week-truncated, so
    * the division is exact integer arithmetic). */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"))
    val first = ev.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    // barrier: cells feeds both the output rows and the cohort-size
    // denominators — without it the event scan + join + distinct pipeline
    // is planned (and executed) twice; the cached relation is only
    // O(cohorts × offsets)
    val cells = graft.CacheGuard.barrier(ev.join(first, "user_id")
      .select($"cohort_wk",
        (datediff($"wk", $"cohort_wk") / 7).cast("long").as("wk_offset"),
        $"user_id")
      .distinct()
      .groupBy($"cohort_wk", $"wk_offset")
      .agg(count(lit(1)).as("n_active")))
    val sizes = cells.filter($"wk_offset" === 0)
      .select($"cohort_wk", $"n_active".as("cohort_size"))
    cells.join(broadcast(sizes), "cohort_wk")
      .select($"cohort_wk", $"wk_offset", $"n_active", $"cohort_size",
        Quant.r4($"n_active".cast("double") / $"cohort_size".cast("double"))
          .as("retention"))
      .orderBy($"cohort_wk", $"wk_offset")
  }

  /** Sliding-window volume-drift monitor — the pipeline-health alarm
    * that catches ingestion regressions (a source going quiet, a
    * scraper double-firing) before they poison a training snapshot:
    * per observed day, compare the trailing 7-OBSERVED-day event volume
    * against the 7 days before that, flag when the absolute change
    * exceeds half the prior volume. All-integer arithmetic — counts and
    * sums only — so the flag can never drift between engines. (CUSUM's
    * recursive statistic is deliberately avoided: it is not
    * prefix-decomposable; paired window frames are, and detect the same
    * step changes at this granularity.)
    *
    * Scale shape: the event stream collapses to O(days) rows in one
    * keyed aggregation with map-side partials; the two `rowsBetween`
    * frames ride ONE partitionless window over that tiny relation (the
    * q84 caveat: acceptable because the windowed relation is O(days),
    * never O(events)). */
  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"ds")  // global-window-ok: O(days)
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", $"ts").cast("date").as("ds"))
      .agg(count(lit(1)).as("cnt"))
    daily.select($"ds", $"cnt",
        sum($"cnt").over(w.rowsBetween(-6, 0)).as("recent7"),
        sum($"cnt").over(w.rowsBetween(-13, -7)).as("prior7"),
        count(lit(1)).over(w.rowsBetween(-13, -7)).as("n_prior"))
      .filter($"n_prior" === 7)
      .select($"ds", $"cnt", $"recent7", $"prior7",
        abs($"recent7" - $"prior7").as("drift"),
        (abs($"recent7" - $"prior7") * 2 > $"prior7").as("flagged"))
      .orderBy($"ds")
  }

  /** First-order Markov transition matrix over per-user event sequences —
    * the behavioral model behind next-action prediction and
    * anomalous-session scoring: P(next event type | current event type),
    * estimated from every consecutive event pair within a user's
    * timeline. The funnel (q101) asks "did the canonical order happen";
    * this asks "what order happens at all, with what probability".
    *
    * Scale shape: ONE window pass (`lead` over user-partitioned,
    * time-ordered events — one shuffle + one per-partition sort, the q63
    * window-kit shape; partitions are per-user and bounded), then two
    * keyed aggregations over the O(|types|²) pair domain — the exchange
    * after the window carries one row per (cur, next) pair per partition
    * thanks to map-side partials. Ordering ties are pinned by
    * (microsecond-truncated ts, event_id) in both engines. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("cur"))
      .withColumn("nxt", lead($"cur", 1).over(w))
      .filter($"nxt".isNotNull)
      .groupBy($"cur", $"nxt").agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy($"cur").agg(sum($"cnt").as("tot"))
    pairs.join(broadcast(totals), "cur")
      .select($"cur", $"nxt", $"cnt",
        Quant.r4($"cnt".cast("double") / $"tot".cast("double")).as("p"))
      .orderBy($"cur", $"nxt")
  }

  /** Per-source data card — the one-page dataset documentation artifact
    * (Gebru et al., "Datasheets for Datasets") a corpus ships with,
    * computed as ONE plan: volume, language diversity, dominant language
    * and its share, median length, exact-dup rate (content
    * fingerprints), and mean quality score — every number the
    * ingest-review meeting asks for, over one cache-barriered corpus
    * projection.
    *
    * Scale shape: one corpus scan derives (source, lang, n_chars, fp,
    * quality) per row; everything downstream is source-keyed aggregation
    * with map-side partials — the dominant language is an argmax
    * `min(struct(-cnt, lang))` over the O(sources × langs) count table
    * (no window), dup counting is `count(distinct fp)` per source, and
    * the mean quality is summed in exact micro-units (the q71 trick) so
    * row order cannot drift the float. Median is exact `percentile` at
    * sf scale with the documented `percentile_approx` swap (q52→q68). */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.{fingerprint, tokens}
    val toks = tokens($"text")
    val base = graft.CacheGuard.barrier(
      Tables.documents(spark, dir).select(
        $"source", $"lang", $"n_chars",
        fingerprint($"text").as("fp"),
        TextAnalysis.qualityExpr(size(toks).cast("long"),
          graft.functions.TextFunctions
            .stopwordCount(toks, TextAnalysis.stopwords).cast("long"))
          .as("quality")))
    val stats = base.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct($"lang").as("n_langs"),
      countDistinct($"fp").as("n_unique"),
      expr("percentile(n_chars, 0.5D)").as("med"),
      sum(floor($"quality" * 1e4 + lit(0.5)).cast("long")).as("qu"))
    val topLang = base.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"source")
      .agg(min(struct((-$"cnt").as("nc"), $"lang")).as("m"))
      .select($"source", $"m.lang".as("top_lang"), (-$"m.nc").as("top_cnt"))
    stats.join(topLang, "source")
      .select($"source", $"n_docs", $"n_langs", $"top_lang",
        Quant.r4($"top_cnt".cast("double") / $"n_docs").as("top_lang_share"),
        Quant.r4($"med").as("median_chars"),
        Quant.r4(($"n_docs" - $"n_unique").cast("double") / $"n_docs")
          .as("dup_rate"),
        Quant.r4($"qu".cast("double") / 1e4 / $"n_docs").as("mean_quality"))
      .orderBy($"source")
  }

  /** Key-skew diagnostic — the pre-join health check a pipeline runs
    * before shuffling 100 TB on a key: per-key frequency distribution of
    * `orders.o_custkey` (count, max, p50/p99 quantiles), the max/median
    * skew ratio, and the salt factor a [[SkewJoin]]-style mitigation
    * would need (`ceil(max / p99)` — how many ways the hottest key must
    * split to look like a merely-99th-percentile key).
    *
    * Scale shape: the per-key count is one keyed aggregation with
    * map-side combine; every downstream stat runs on the O(distinct
    * keys) count table, never the fact table. The quantiles here are
    * EXACT `percentile` over that reduced table — at 100 TB with a
    * billion-key domain the one-line swap is `percentile_approx`
    * (the q52→q68 exact→sketch pattern); the shape is otherwise
    * unchanged. Division results are rounded to 6 decimals before `ceil`
    * so a one-ulp cross-engine difference cannot flip the integer. */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kc = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
    kc.agg(
        count(lit(1)).as("n_keys"),
        sum($"cnt").as("n_rows"),
        max($"cnt").as("max_cnt"),
        expr("percentile(cnt, 0.5D)").as("p50d"),
        expr("percentile(cnt, 0.99D)").as("p99d"))
      .select(
        $"n_keys", $"n_rows", $"max_cnt",
        Quant.r4($"p50d").as("p50"),
        Quant.r4($"p99d").as("p99"),
        Quant.r4($"max_cnt".cast("double") / $"p50d").as("skew_ratio"),
        greatest(lit(1L),
          ceil(round($"max_cnt".cast("double") / $"p99d", 6)).cast("long")) // round-ok: ulp-guard before ceil; oracle mirrors
          .as("salt_factor"))
  }

  /** Daily engagement curve — DAU, trailing-7-day active users (WAU),
    * and first-seen (new-user) counts per observed day: the standard
    * health dashboard over the event stream the reference's ingest
    * feeds (`reddit_crawl.py`-style feeds are judged by exactly these
    * curves downstream).
    *
    * The rolling DISTINCT is the interesting operator: `count(distinct)
    * OVER (RANGE 6 PRECEDING)` re-scans the window per row and most
    * engines refuse DISTINCT window aggregates outright. The
    * prefix-decomposable form used here: collapse the stream to the
    * distinct (user, day) grid ONCE, then explode each grid row to the
    * ≤7 target days it makes active, distinct again on (user, target
    * day), and count — every step a keyed aggregation with map-side
    * partials.
    *
    * Scale shape (100 TB of events):
    *   - the stream is scanned ONCE, collapsing to O(users × days) with
    *     partial aggregation before the exchange;
    *   - the 7× fan-out multiplies the COLLAPSED grid, not the stream,
    *     and re-collapses map-side (a user active on consecutive days
    *     emits duplicate (user, target) pairs that die in the partial);
    *   - the observed-day relation (O(days)) broadcasts for the
    *     calendar clamp; new-user counts reuse the same grid via a
    *     per-user min — nothing re-reads events.
    * All-integer output; days are `date_trunc` dates in both engines. */
  def engagementCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // barrier: the user-day grid feeds dau, wau and the first-seen rollup
    val ud = graft.CacheGuard.barrier(
      Tables.events(spark, dir)
        .select($"user_id", date_trunc("day", $"ts").cast("date").as("ds"))
        .distinct())
    val days = ud.select($"ds").distinct()
    val dau = ud.groupBy($"ds").agg(count(lit(1)).as("dau"))
    val newu = ud.groupBy($"user_id").agg(min($"ds").as("ds"))
      .groupBy($"ds").agg(count(lit(1)).as("new_users"))
    val wau = ud
      .select($"user_id", explode(sequence(lit(0), lit(6))).as("o"), $"ds")
      .select($"user_id", date_add($"ds", $"o").as("ds"))
      .distinct()
      .join(broadcast(days), "ds") // clamp to observed days only
      .groupBy($"ds").agg(count(lit(1)).as("wau7"))
    dau.join(wau, "ds")
      .join(newu, Seq("ds"), "left")
      .select($"ds", $"dau", $"wau7",
        coalesce($"new_users", lit(0L)).as("new_users"))
      .orderBy($"ds")
  }

  /** Hourly burst detector — flags (event_type, hour) cells whose count
    * exceeds 3× the trailing-24-observed-hour mean: the spike alarm that
    * catches scraper double-fires, bot storms and viral bursts in a
    * social-media feed before they skew a training snapshot (the
    * per-type twin of q124's daily drift monitor).
    *
    * The rule is pure integer arithmetic — `cnt · n_prior > 3 · Σ prior`
    * — so the flag can never drift between engines; rows only surface
    * once a full 24-hour history exists (matching q124's warm-up gate).
    *
    * Scale shape: the stream collapses to O(types × hours) in one keyed
    * aggregation with map-side partials; both window frames ride ONE
    * `partitionBy(event_type)` window over that tiny relation, so the
    * sort behind the window never sees event-level data and the
    * per-type partitions are independent (no single-partition window —
    * the q84 caveat does not even arise). */
  def burstDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"hh")
      .rowsBetween(-24, -1)
    Tables.events(spark, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hh"))
      .agg(count(lit(1)).as("cnt"))
      .select($"event_type", $"hh", $"cnt",
        sum($"cnt").over(w).as("prior24"),
        count(lit(1)).over(w).as("n_prior"))
      .filter($"n_prior" === 24)
      .select(
        $"event_type",
        date_format($"hh", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"cnt", $"prior24",
        ($"cnt" * 24 > $"prior24" * 3).as("flagged"))
      .orderBy($"event_type", $"hour_start")
  }

  /** Session co-occurrence mining — the market-basket/item-graph pass
    * over the event stream: which `props.k` items appear together inside
    * one 30-minute session, with support counts and lift
    * (n_ab·N / (n_a·n_b)) against independence. This is the recommender
    * and query-expansion primitive (co-click graphs, related-topic
    * mining) the reference's feeds ultimately power.
    *
    * Scale shape:
    *   - sessionization is the built-in `session_window` aggregate (q36
    *     semantics, oracle-proven equal to 30-min-gap islands), so the
    *     stream collapses once, keyed by user — no window over raw
    *     events;
    *   - per-session item SETS ride `collect_set` whose state is bounded
    *     by the item domain (here ≤100; for open domains swap in a
    *     per-session distinct + two-phase pairing, same downstream);
    *   - the pair fan-out explodes C(m,2) per session from the sorted
    *     set array (a per-row combinatorial expand, never a self-join —
    *     no shuffle carries pair candidates, only the final
    *     O(items²)-bounded aggregate);
    *   - marginals and the session total come from the SAME barriered
    *     session relation, broadcast back onto the O(items²) pair table.
    * Lift is ONE double division over exact integer counts, 1e-4
    * quantized; ties cannot drift. */
  /** Support floor shared with the q187 oracle SQL (interpolated there
    * so an edit cannot silently diverge). */
  val cooccurMinSupport = 2L

  def sessionCooccurrence(spark: SparkSession, dir: String,
                          minSupport: Long = cooccurMinSupport): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .withColumn("k",
        from_json($"props", IngestPipelines.propsSchema).getField("k"))
      .filter($"k".isNotNull)
    // barrier: the session relation feeds pairs, marginals and the total
    val sess = graft.CacheGuard.barrier(
      ev.groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(array_sort(collect_set($"k")).as("items")))
    val total = sess.agg(count(lit(1)).as("n_sessions"))
    val marg = sess.select(explode($"items").as("item"))
      .groupBy($"item").agg(count(lit(1)).as("n_item"))
    val pairs = sess
      .select($"items", posexplode($"items"))
      .select($"col".as("a"),
        explode(slice($"items", $"pos" + 2,
          greatest(size($"items") - $"pos" - 1, lit(0)))).as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= minSupport)
    pairs
      .join(broadcast(marg.select($"item".as("a"), $"n_item".as("n_a"))), "a")
      .join(broadcast(marg.select($"item".as("b"), $"n_item".as("n_b"))), "b")
      .crossJoin(broadcast(total))
      .select($"a", $"b", $"n_ab", $"n_a", $"n_b",
        Quant.r4(($"n_ab" * $"n_sessions").cast("double") /
          ($"n_a" * $"n_b").cast("double")).as("lift"))
      .orderBy($"a", $"b")
  }

  /** Exponentially time-decayed popularity per event type — the
    * "trending now" score every feed ranker runs, with half-life decay
    * kept EXACT: half-life = 3 days, so a row's weight is 2^(−⌊Δd/3⌋)
    * of a fresh event's; representing weights as integer 2^20-units
    * (`1 << (20 − ⌊Δd/3⌋)`, 0 beyond 60 days) makes every per-row
    * weight and every sum a plain BIGINT — no float accumulation, no
    * `pow` ulp drift between engines (the q184/q146 discipline applied
    * to decay instead of entropy). The reference time is the corpus max
    * day, so the query is replayable on any snapshot. The `decayed`
    * double is ONE division by 2^20 at the end — exact in binary
    * floating point, so even the quantized rendering cannot drift.
    *
    * Scale shape: the reference day is an O(1) aggregate broadcast back;
    * weights are per-row codegen arithmetic riding the scan; the rollup
    * is one event_type-keyed aggregation with map-side partials —
    * exchange O(types). A decayed-score MAINTENANCE loop at serving
    * time multiplies yesterday's units by the day factor instead of
    * rescanning — the units representation makes that exact too. */
  def decayedTrending(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", to_date($"ts").as("d"))
    val ref = ev.agg(max($"d").as("ref"))
    ev.crossJoin(broadcast(ref))
      .select($"event_type",
        expr("datediff(ref, d) div 3").as("we"))
      .select($"event_type",
        when($"we" >= 20, lit(0L))
          .otherwise(expr("shiftleft(1L, cast(20 - we as int))"))
          .as("wu"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"wu").as("decayed_units"))
      .select($"event_type", $"n_events", $"decayed_units",
        Quant.r4($"decayed_units".cast("double") / lit(1048576.0))
          .as("decayed"))
      .orderBy($"decayed_units".desc, $"event_type")
  }

  /** Entropy floor (micro-nats) below which a user's event-type mix
    * counts as suspicious: ln 2 ≈ "fewer than two effective types". */
  val botEntropyFloorU6 = 693147L

  /** Minimum inter-event gaps before cadence regularity is judged. */
  val botMinGaps = 5L

  /** Per-user bot-likelihood signals — the automation screen a
    * social-media ingest runs before letting accounts into a training
    * corpus (bot farms poison both dedup statistics and preference
    * data): per user, (a) event-TYPE entropy — scripted accounts do one
    * thing, humans mix — via the (user, type) contingency table with
    * per-cell −p·ln p in integer micro-nats (round-8 ln then floor, the
    * q171/q146 discipline, so the double-summation order can never
    * drift); and (b) cadence regularity — schedulers fire on fixed
    * intervals — from whole-second inter-event gaps as the EXACT integer
    * variance numerator n·Σg²−(Σg)², compared against the squared mean
    * without any division (CV < ½ ⇔ vn·4 < (Σg)²). A user flags as a
    * bot only when BOTH signals fire.
    *
    * Scale shape: the contingency pass is one keyed aggregation
    * (exchange O(users × types)); the gap pass is the per-user
    * time-order window — the standard sessionization sort-shuffle
    * (q36/q187's cost), with all state O(1) per row; both collapse to
    * O(users) before the final join. Gaps use `unix_micros` (exact
    * BIGINT) floored to seconds, so ties at identical micros cannot
    * reorder the gap multiset. */
  def botSignalsOf(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val cells = ev.groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n_cell"))
    val wu = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
    val ent = cells
      .withColumn("n", sum($"n_cell").over(wu))
      .withColumn("h_u6", floor(round( // round-ok: ulp-snap on ln before quantize
        -($"n_cell".cast("double") / $"n".cast("double")) *
          log($"n_cell".cast("double") / $"n".cast("double")), 8) * 1e6
        + lit(0.5)).cast("long"))
      .groupBy($"user_id")
      .agg(max($"n").as("n_events"), count(lit(1)).as("n_types"),
        sum($"h_u6").as("entropy_u6"))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
      .orderBy($"us")
    val gstats = ev.select($"user_id", unix_micros($"ts").as("us"))
      .withColumn("prev", lag($"us", 1).over(wt))
      .filter($"prev".isNotNull)
      .select($"user_id", expr("(us - prev) div 1000000").as("g"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"), sum($"g").as("gap_sum_s"),
        sum($"g" * $"g").as("gap_sq_s"))
      .select($"user_id", $"n_gaps", $"gap_sum_s",
        ($"n_gaps" * $"gap_sq_s" - $"gap_sum_s" * $"gap_sum_s")
          .as("gap_var_num"))
    ent.join(gstats, Seq("user_id"), "left")
      .select($"user_id", $"n_events", $"n_types", $"entropy_u6",
        coalesce($"n_gaps", lit(0L)).as("n_gaps"),
        coalesce($"gap_sum_s", lit(0L)).as("gap_sum_s"),
        coalesce($"gap_var_num", lit(0L)).as("gap_var_num"))
      .withColumn("low_entropy", $"entropy_u6" < botEntropyFloorU6)
      .withColumn("regular_cadence", $"n_gaps" >= botMinGaps &&
        $"gap_var_num" * 4 < $"gap_sum_s" * $"gap_sum_s")
      .withColumn("bot_flag", $"low_entropy" && $"regular_cadence")
      .orderBy($"user_id")
  }

  /** Declared query: [[botSignalsOf]] over the event stream. */
  def botSignals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    botSignalsOf(Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_type"))
  }

  /** Multi-touch attribution with EXACT largest-remainder credit — the
    * ad-tech upgrade of q56's single-touch attribution join: every
    * click of the same user within the 30-minute horizon BEFORE a
    * purchase shares the conversion credit. Fractional credit is where
    * attribution pipelines silently diverge (1/3 as a float sums to
    * 0.99999…); here each purchase's 10⁶ ppm split EXACTLY:
    * `base = 10⁶ div n` to every touch and the remainder `10⁶ mod n`
    * dealt one ppm each to the EARLIEST touches (the q195
    * largest-remainder convention) — per-purchase credit sums to
    * exactly 10⁶ by construction, an invariant the spec re-adds.
    *
    * Scale shape: the candidate join is the q56/q75 time-bounded
    * interval join (bucketized at scale; in streaming both sides'
    * watermarks bound the state); rank and touch-count ride ONE window
    * partitioned by purchase — groups are conversion-sized (touches
    * within 30 min), never corpus-sized. */
  def multiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    val buys = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("buy_ts"), $"event_id".as("buy_id"))
    val pairs = buys.join(clicks, Seq("user_id"))
      .filter($"click_ts" <= $"buy_ts" &&
        $"click_ts" > $"buy_ts" - expr("INTERVAL 30 MINUTES"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"buy_id")
      .orderBy($"click_ts", $"click_id")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy($"buy_id")
    pairs
      .withColumn("touch_rank", row_number().over(w).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(wAll))
      .select($"buy_id", $"click_id", $"touch_rank", $"n_touches",
        (expr("1000000 div n_touches") +
          when($"touch_rank" <= expr("1000000 % n_touches"), 1L)
            .otherwise(0L)).as("credit_ppm"))
      .orderBy($"buy_id", $"touch_rank")
  }

  /** U-shaped (position-based) attribution — the 40/20/40 model beside
    * q207's linear split: first and last touch carry 40% each, the
    * middle touches share the remaining 20% — the standard "discovery
    * and closing matter most" production model. Exact integer ppm with
    * q195/q207's largest-remainder convention on the middle share, so
    * per-purchase credit sums to EXACTLY 10⁶ in every branch (1 touch →
    * 10⁶; 2 → 500k/500k; n≥3 → 400k + middles + 400k). Same
    * time-bounded pair relation and conversion-sized windows as q207 —
    * the MODEL is the only thing that changes, which is the point of
    * keeping attribution as a query. */
  def uShapedAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    val buys = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("buy_ts"), $"event_id".as("buy_id"))
    val pairs = buys.join(clicks, Seq("user_id"))
      .filter($"click_ts" <= $"buy_ts" &&
        $"click_ts" > $"buy_ts" - expr("INTERVAL 30 MINUTES"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"buy_id")
      .orderBy($"click_ts", $"click_id")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy($"buy_id")
    pairs
      .withColumn("touch_rank", row_number().over(w).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(wAll))
      .select($"buy_id", $"click_id", $"touch_rank", $"n_touches",
        when($"n_touches" === 1, 1000000L)
          .when($"n_touches" === 2, 500000L)
          .when($"touch_rank" === 1 || $"touch_rank" === $"n_touches",
            400000L)
          .otherwise(expr("200000 div (n_touches - 2)") +
            when($"touch_rank" - 1 <= expr("200000 % (n_touches - 2)"), 1L)
              .otherwise(0L))
          .as("credit_ppm"))
      .orderBy($"buy_id", $"touch_rank")
  }

  /** Revenue CONCENTRATION (exact Gini) — "how dependent is revenue on
    * a few customers", as an exact rational: with tie-averaged DOUBLED
    * ranks r₂ over per-customer revenue (q238's device — rank maps from
    * the value-frequency table, never a corpus sort), the Gini
    * coefficient G = Σ r₂ᵢxᵢ/(n·Σx) − (n+1)/n lands in ppm as two
    * nonnegative floor divisions over exact integer cents — no float
    * Lorenz integration to drift between engines (floor rounding can
    * shave the difference to −1 ppm on perfectly uniform data; the
    * value is exact, the interpretation unchanged). The single largest
    * customer's share rides along.
    *
    * Scale shape: one custkey rollup (map-side partials), an
    * O(distinct revenue values) rank map broadcast back, one power-sum
    * aggregate. */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = graft.CacheGuard.barrier(
      Tables.orders(spark, dir)
        .groupBy($"o_custkey")
        .agg(sum(floor($"o_totalprice" * 100 + lit(0.5)).cast("long"))
          .as("cents")))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"cents")  // global-window-ok: O(distinct cent totals) value-frequency table
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val rank2 = rev.groupBy($"cents").agg(count(lit(1)).as("cnt"))
      .withColumn("cb", coalesce(sum($"cnt").over(w), lit(0L)))
      .select($"cents".as("v"), (lit(2L) * $"cb" + $"cnt" + 1L).as("r2"))
    rev.join(broadcast(rank2), $"cents" === $"v")
      .agg(count(lit(1)).as("n"),
        sum($"cents".cast("decimal(38,0)")).as("sx"),
        sum(($"r2" * $"cents").cast("decimal(38,0)")).as("srx"),
        max($"cents").as("max_cents"))
      .select($"n", $"sx".cast("long").as("total_cents"), $"max_cents",
        (expr("(srx * 1000000) div (cast(n as decimal(38,0)) * sx)") -
          expr("((n + 1) * 1000000) div n")).as("gini_ppm"),
        expr("(cast(max_cents as decimal(38,0)) * 1000000) div sx")
          .cast("long").as("top1_share_ppm"))
  }

  /** Robust per-type outlier audit — median/MAD instead of mean/stddev
    * (one fat-fingered 1e6 value drags a mean-based z-score gate into
    * passing everything; the median absolute deviation shrugs it off —
    * the robust-statistics upgrade of q37's running-mean anomaly flag).
    * This is also the SCALE answer to q96's documented limitation: q96
    * computes its two medians with `percentile`, whose per-group state
    * is the group itself, and documents `percentile_approx` as the
    * 100 TB swap — here both quantiles are EXACT with bounded state
    * because the metric lives on a finite grid, so no sketch and no
    * per-group sort are needed at any scale.
    * `value` lives on the exact 2-decimal grid, so medians are DISCRETE
    * quantiles in integer 1e-2 units: med = smallest unit with
    * 2·cum ≥ n over the (type, unit) value-frequency table, MAD the
    * same rule over |u − med|, outlier ⇔ |u − med| > 3·MAD — pure
    * integer comparisons end to end, engine-drift-proof.
    *
    * Scale shape — the q168 discipline twice over: BOTH quantiles come
    * from cumulative windows over (type, unit) FREQUENCY tables
    * (O(types × distinct values), never the stream; `percentile`'s
    * per-group state would be the group itself); the median table is
    * O(types) and broadcasts back for the deviation pass; the final
    * rollup is one keyed aggregation with map-side partials. Two
    * stream scans total — the price of a genuine two-level quantile. */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type",
        floor($"value" * 100 + lit(0.5)).cast("long").as("u"))
    def discreteMedian(rel: DataFrame, valueCol: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy(col(valueCol))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type")
      rel.groupBy($"event_type", col(valueCol))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(w))
        .withColumn("n", sum($"cnt").over(wAll))
        .filter($"cum" * 2 >= $"n")
        .groupBy($"event_type")
        .agg(min(col(valueCol)).as("med"), max($"n").as("n"))
    }
    val med = discreteMedian(ev, "u")
      .select($"event_type", $"med".as("med_u2"), $"n")
    val dev = ev.join(broadcast(med), "event_type")
      .select($"event_type", abs($"u" - $"med_u2").as("d"),
        $"med_u2", $"n")
    val mad = discreteMedian(dev.select($"event_type", $"d"), "d")
      .select($"event_type", $"med".as("mad_u2"))
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type", $"med_u2", $"mad_u2", $"n")
      .agg(sum(when($"d" > $"mad_u2" * 3, 1L).otherwise(0L))
        .as("n_outliers"))
      .select($"event_type", $"n", $"med_u2", $"mad_u2", $"n_outliers",
        expr("n_outliers * 10000 div n").as("outlier_bp"))
      .orderBy($"event_type")
  }

  /** A/B experiment readout with an EXACT-ARITHMETIC significance test —
    * the decision layer on top of the event stream: split users into two
    * variants (here deterministically by user-id parity, the hash-bucket
    * assignment every experimentation system uses), measure per-variant
    * conversion (purchases ≥ 25% of the user's events — an exact integer
    * share test), and test the difference with the 2×2 chi-square
    * statistic
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    * (algebraically identical to the two-proportion z² — no pooled-rate
    * floats, no sqrt). Every input is an exact BIGINT count; the single
    * division is quantized to micro-units with DECIMAL(38) intermediates
    * — (ad−bc)² alone can reach ~10²⁴, far past BIGINT, which is why the
    * naive long arithmetic silently overflows and the float route
    * hash-diverges on both counts. The verdict compares against the
    * χ²₁,₀.₀₅ critical value 3.841459 carried as the exact micro-unit
    * literal 3841459 on both engines.
    *
    * Scale shape: one user-keyed aggregation collapses the event stream
    * to (user, variant, converted) — map-side partials, O(users) rows —
    * then one 4-cell rollup; the chi-square is driver-free row
    * arithmetic on a 1-row relation. Nothing here is approximate or
    * sampled: at 100 TB the exact counts are one aggregation anyway. */
  def abTestReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // conversion = purchases make up ≥25% of the user's events (an exact
    // integer share test, scale-free in events-per-user); "any purchase
    // ever" saturates on a dense stream — every active user trips it —
    // and a degenerate margin zeroes the chi-square denominator
    val perUser = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("n_purch"), count(lit(1)).as("n_ev"))
      .select(($"user_id" % 2 === 0).as("variant_a"),
        when($"n_purch" * 4 >= $"n_ev", 1L).otherwise(0L).as("converted"))
    val cells = perUser.agg(
      sum(when($"variant_a" && $"converted" === 1, 1L).otherwise(0L)).as("a"),
      sum(when($"variant_a" && $"converted" === 0, 1L).otherwise(0L)).as("b"),
      sum(when(!$"variant_a" && $"converted" === 1, 1L).otherwise(0L)).as("c"),
      sum(when(!$"variant_a" && $"converted" === 0, 1L).otherwise(0L)).as("d"))
    cells.select($"a", $"b", $"c", $"d",
        expr("cast(a as decimal(12,0)) * cast(d as decimal(12,0)) - " +
          "cast(b as decimal(12,0)) * cast(c as decimal(12,0))").as("det"),
        expr("(cast(a+b as decimal(12,0)) * cast(c+d as decimal(12,0))) * " +
          "(cast(a+c as decimal(12,0)) * cast(b+d as decimal(12,0)))")
          .as("den"))
      .select($"a", $"b", $"c", $"d",
        when($"den" === 0, 0L) // a degenerate margin: no evidence, χ² = 0
          .otherwise(expr(
            "(cast(a+b+c+d as decimal(12,0)) * (det * det) * 1000000) " +
              "div den")).as("chi2_micro"))
      .select(
        ($"a" + $"b").as("n_a"), $"a".as("conv_a"),
        ($"c" + $"d").as("n_b"), $"c".as("conv_b"),
        expr("a * 1000000 div (a + b)").as("rate_a_ppm"),
        expr("c * 1000000 div (c + d)").as("rate_b_ppm"),
        $"chi2_micro",
        ($"chi2_micro" > 3841459L).as("significant_95"))
  }

  /** Consecutive-day activity streaks per user — the retention signal
    * cohort grids (q107) aggregate away: a user active 10 scattered days
    * and one active 10 consecutive days have identical cohort cells but
    * very different engagement. Classic gap-and-islands (the q140 device
    * on the calendar axis): within a user, `day − row_number` days is
    * constant exactly while days are consecutive, so that difference is
    * the streak key. One row per (user, streak): start day, length, and
    * the user's streak ordinal.
    *
    * Scale shape: the event stream collapses to distinct (user, day)
    * first — O(user-days), the only corpus-sized shuffle — then both
    * windows partition BY USER over day-count-sized groups (≤ calendar
    * days, never event counts). No global window anywhere. */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"day")
    val keyed = days.withColumn("isl", date_sub($"day", row_number().over(w)))
    val wo = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"start_day")
    keyed.groupBy($"user_id", $"isl")
      .agg(min($"day").as("start_day"), count(lit(1)).as("len"))
      .select($"user_id", $"start_day", $"len",
        row_number().over(wo).cast("long").as("streak_no"))
      .orderBy($"user_id", $"start_day")
  }

  /** Leave-one-out target encoding — the leakage-safe categorical
    * feature the naive per-category mean gets WRONG for training: a
    * row's own target inside its category mean leaks the label (worst
    * for rare categories, where one row IS most of the mean). LOO
    * excludes the row itself: enc(row) = (Σ_cat target − target_row) /
    * (n_cat − 1). All arithmetic is exact integer cents (the u-unit
    * money discipline) with one floor division per row; a singleton
    * category has no leave-one-out evidence and surfaces as −1.
    *
    * Scale shape: one groupBy over the O(categories) domain (map-side
    * partials), the tiny stat relation broadcast back onto the fact
    * rows — the fact table shuffles zero times. The same shape serves
    * K-fold target encoding (stats per fold, join on fold != row's). */
  def looTargetEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_mktsegment".as("segment"),
        floor($"o_totalprice" * 100 + lit(0.5)).cast("long").as("cents"))
    val stats = o.groupBy($"segment")
      .agg(sum($"cents").as("seg_sum"), count(lit(1)).as("seg_n"))
    o.join(broadcast(stats), "segment")
      .select($"o_orderkey", $"segment", $"cents",
        when($"seg_n" === 1, -1L)
          .otherwise(expr("(seg_sum - cents) div (seg_n - 1)"))
          .as("loo_cents"))
      .orderBy($"o_orderkey")
  }

  /** Feature hashing (the hashing trick; Weinberger et al. 2009) —
    * fixed-dimension categorical features with NO dictionary: each
    * "column=value" string hashes to a bucket in [0, dim) and a ±1 sign
    * (the sign bit halves collision bias), colliding features sum. The
    * dictionary-free property is the scale point: one-hot needs a
    * vocabulary pass + a broadcast dict; hashing is pure per-row
    * arithmetic with a schema known before the data arrives. Hash is the
    * engine's shared md5-32 (never a Spark-private hash — the oracle
    * must agree), bucket = h mod dim, sign from the next hash bit.
    * Output is the relational sparse form (custkey, bucket, weight) —
    * the assembly into a dense vector is a pivot away.
    *
    * Scale shape: explode(3 literals) per row → groupBy (key, bucket)
    * with map-side partials; no joins, no vocabulary state. */
  def featureHashing(spark: SparkSession, dir: String,
                     dim: Int = 64): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.md5Hash32
    val feats = Tables.customer(spark, dir)
      .select($"c_custkey", explode(array(
        concat(lit("nation="), $"c_nationkey".cast("string")),
        concat(lit("segment="), $"c_mktsegment"),
        concat(lit("acct_neg="), ($"c_acctbal" < 0).cast("string"))))
        .as("feat"))
      .select($"c_custkey", md5Hash32($"feat").as("h"))
    feats.select($"c_custkey", ($"h" % dim).as("bucket"),
        (expr(s"(h div $dim) % 2") * 2 - 1).as("sign"))
      .groupBy($"c_custkey", $"bucket")
      .agg(sum($"sign").as("w"))
      .orderBy($"c_custkey", $"bucket")
  }

  /** Funnel conversion-latency distribution — the "how long does the
    * funnel take" complement of q101's stage counts and q107's cohort
    * grid: per user, the FIRST click and the first purchase at-or-after
    * it; the latency distribution is then summarized with EXACT discrete
    * percentiles on the whole-second grid (the q168/q202 frequency-table
    * discipline — never a per-group sort, never approx_percentile whose
    * sketch is engine-specific). Latencies are exact integer seconds
    * from microsecond epochs (`(µs₂ − µs₁) div 10⁶` — float epoch
    * seconds would wobble).
    *
    * Scale shape: two user-keyed min-aggregations (map-side partials)
    * + one keyed join; the percentile machinery runs over the
    * (seconds, count) frequency table — O(distinct latencies) rows. */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val firstClick = ev.filter($"event_type" === "click")
      .groupBy($"user_id").agg(min($"us").as("click_us"))
    val conv = ev.filter($"event_type" === "purchase")
      .join(firstClick, "user_id")
      .filter($"us" >= $"click_us")
      .groupBy($"user_id", $"click_us").agg(min($"us").as("buy_us"))
      .select(expr("(buy_us - click_us) div 1000000").as("sec"))
    val freq = conv.groupBy($"sec").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"sec")  // global-window-ok: O(distinct latency seconds) value-frequency table
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = freq.withColumn("cum", sum($"cnt").over(w))
      .crossJoin(broadcast(freq.agg(sum($"cnt").as("n"))))
    def pct(p: Int) = cum.filter($"cum" * 100 >= $"n" * p)
      .agg(min($"sec").as(s"p${p}_s"))
    conv.agg(count(lit(1)).as("n_converted"), max($"sec").as("max_s"))
      .crossJoin(pct(25)).crossJoin(pct(50)).crossJoin(pct(75))
      .crossJoin(pct(90))
      .select($"n_converted", $"p25_s", $"p50_s", $"p75_s", $"p90_s",
        $"max_s")
  }

  /** DAU/WAU stickiness grid — the engagement ratio product teams track
    * daily (DAU ÷ trailing-7-day WAU, "what fraction of the weekly
    * audience shows up today"), and the EXACT audit twin of q205's
    * rolling-HLL WAU (same trailing window, sketch-free): per day, the
    * exact distinct daily users, the exact distinct trailing-7-day
    * users, and stickiness in basis points — all integer.
    *
    * Scale shape: the corpus collapses to the distinct (user, day)
    * relation once (the only corpus-sized shuffle); the trailing window
    * is a ≤7-row fan-out of that relation onto the day grid (join on
    * 0 ≤ d − day ≤ 6) followed by one distinct-count per grid day —
    * state O(days × weekly users), the exact-audit cost q205's sketch
    * exists to avoid at 100 TB (this query IS the documented exact
    * half, kept queryable at probe scales). */
  def stickinessGrid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"))
      .distinct()
    val dau = days.groupBy($"day").agg(countDistinct($"user_id").as("dau"))
    val grid = days.select($"day".as("g")).distinct()
    val wau = days.join(grid,
        datediff($"g", $"day") >= 0 && datediff($"g", $"day") <= 6)
      .groupBy($"g").agg(countDistinct($"user_id").as("wau"))
    dau.join(wau, $"day" === $"g")
      .select($"day", $"dau", $"wau",
        expr("dau * 10000 div wau").as("stickiness_bp"))
      .orderBy($"day")
  }

  /** Batch LINEAR-MODEL scoring over hashed features — the "apply the
    * domain classifier to the whole corpus" pass every curation
    * pipeline runs (FineWeb/CCNet quality classifiers, DSIR domain
    * scorers), demonstrated end-to-end on the q219 hashing-trick
    * features: score = Σ_b w(b)·x_b with a FIXED deterministic weight
    * per bucket (w(b) = ((b·7) mod 21) − 10 — an integer formula both
    * engines compute, standing in for trained weights which would ship
    * as a broadcast table), prediction = score > 0. All-integer: the
    * logit needs no sigmoid because the decision boundary and the
    * ranking are monotone in the logit.
    *
    * Scale shape: q219's feature relation joined to nothing — the
    * weight is a per-row formula (a trained model would broadcast an
    * O(dim) table); one (key)-keyed rollup with map-side partials. */
  def linearScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    featureHashing(spark, dir)
      .select($"c_custkey",
        ($"w" * (($"bucket" * 7) % 21 - 10)).as("contrib"))
      .groupBy($"c_custkey")
      .agg(sum($"contrib").as("logit"))
      .select($"c_custkey", $"logit", ($"logit" > 0).as("predicted"))
      .orderBy($"c_custkey")
  }

  /** Winsorized-mean report — the robust-aggregation PREP step q202's
    * outlier audit motivates: instead of dropping outliers, CLIP them to
    * the exact discrete p1/p99 bounds and report how much mass moved.
    * Per event type: the clip bounds (min unit with cum·100 ≥ n·pct on
    * the exact 1e-2 value grid — the q168/q202 discipline), clipped-row
    * counts both sides, and the raw vs winsorized sums and means, all
    * in exact integer 1e-2 units (sums in DECIMAL(38) — long sums
    * overflow at corpus scale).
    *
    * Scale shape: one scan to the (type, unit) frequency table, two
    * cumulative windows over THAT table (O(types × distinct units)),
    * bounds broadcast back, one clipping aggregation with map-side
    * partials. The means are two floor divisions per type row. */
  def winsorizedReport(spark: SparkSession, dir: String,
                       loPct: Int = 1, hiPct: Int = 99): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type",
        floor($"value" * 100 + lit(0.5)).cast("long").as("u"))
    val freq = ev.groupBy($"event_type", $"u").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"u")
    val cum = freq.withColumn("cum", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
    def bound(pct: Int, name: String) = cum
      .filter($"cum" * 100 >= $"n" * pct)
      .groupBy($"event_type").agg(min($"u").as(name))
    val bounds = bound(loPct, "lo_u2").join(bound(hiPct, "hi_u2"),
      "event_type")
    ev.join(broadcast(bounds), "event_type")
      .select($"event_type", $"u", $"lo_u2", $"hi_u2",
        greatest(least($"u", $"hi_u2"), $"lo_u2").as("uw"))
      .groupBy($"event_type", $"lo_u2", $"hi_u2")
      .agg(count(lit(1)).as("n"),
        sum(when($"u" < $"lo_u2", 1L).otherwise(0L)).as("n_clip_low"),
        sum(when($"u" > $"hi_u2", 1L).otherwise(0L)).as("n_clip_high"),
        sum($"u".cast("decimal(38,0)")).as("sum_u2"),
        sum($"uw".cast("decimal(38,0)")).as("sum_win_u2"))
      .select($"event_type", $"n", $"lo_u2", $"hi_u2",
        $"n_clip_low", $"n_clip_high",
        $"sum_u2".cast("long").as("sum_u2"),
        $"sum_win_u2".cast("long").as("sum_win_u2"),
        expr("cast(sum_u2 as long) div n").as("mean_u2"),
        expr("cast(sum_win_u2 as long) div n").as("mean_win_u2"))
      .orderBy($"event_type")
  }

  /** Watermark-LATENESS audit — the batch measurement behind choosing a
    * streaming watermark delay (q17/q166's knob): for each candidate
    * delay δ, how many events would arrive LATE (event time below the
    * per-stream high-water mark minus δ at their arrival position) and
    * be dropped by a watermark-δ window. The synthetic stream carries
    * no transport delay (event-id order ≡ event-time order — every
    * event would be "on time" and the audit would read all-zero), so
    * arrival is modeled with a DETERMINISTIC md5 transit delay of up to
    * 10 minutes per event (`us + (h32(event_id) mod 600)·10⁶`) — the
    * reordering a real ingest path produces; a deployment replaces the
    * modeled arrival key with its ingest timestamp column. Arrival
    * order lives within a user's stream (the keyed-stream model
    * Structured Streaming shards by); the high-water mark is a running
    * max of EVENT time over arrival order, excluding the current row.
    * One δ grid row per policy: drops, and the drop rate over events
    * that have a predecessor; δ=900s sits above the max modeled delay,
    * so the grid shows the policy saturating to zero.
    *
    * Scale shape: ONE per-user window (bounded by the user's stream,
    * the same key the real stream partitions by — never a global
    * arrival order, which would serialize the corpus) computes the
    * running max once; the δ sweep is per-row CASE arithmetic over the
    * fixed grid, aggregated map-side to O(grid) rows. */
  def latenessAudit(spark: SparkSession, dir: String,
                    deltasSec: Seq[Long] = Seq(0L, 10L, 60L, 300L, 900L))
      : DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"arrival_us", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("arrival_us", $"us" +
        (graft.functions.TextFunctions.md5Hash32($"event_id".cast("string"))
          % 600) * 1000000L)
      .withColumn("hwm", max($"us").over(w))
      .filter($"hwm".isNotNull)
    val base = ev.select(
      deltasSec.map(d =>
        sum(when($"us" < $"hwm" - d * 1000000L, 1L).otherwise(0L))
          .as(s"late_$d")) :+ count(lit(1)).as("n_eligible"): _*)
    val stackSql = deltasSec.map(d => s"$d, late_$d").mkString(", ")
    base.selectExpr("n_eligible",
        s"stack(${deltasSec.size}, $stackSql) AS (delta_s, n_late)")
      .select($"delta_s".cast("long").as("delta_s"), $"n_eligible",
        $"n_late", expr("n_late * 10000 div n_eligible").as("late_bp"))
      .orderBy($"delta_s")
  }

  /** Join-cardinality ESTIMATOR audit — the System-R statistics rule a
    * cost-based optimizer (and AQE's broadcast decision) lives on:
    * |A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k)). Per named join of the
    * star schema, the estimate from exact table stats vs the ACTUAL
    * join cardinality, error in ppm — the "can I trust my stats"
    * report that decides when to reanalyze. All-integer (the estimator
    * division is one floor div; inputs are exact counts).
    *
    * Scale shape: per join, two stat aggregations (count + distinct on
    * the key, map-side partial) and one exact join count — the audit
    * costs what the join costs, which is the point: run it on the
    * joins you're about to commit a plan strategy to. */
  def joinCardAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def audit(name: String, left: DataFrame, lk: String,
              right: DataFrame, rk: String): DataFrame = {
      val ls = left.agg(count(lit(1)).as("n_l"),
        countDistinct(col(lk)).as("d_l"))
      val rs = right.agg(count(lit(1)).as("n_r"),
        countDistinct(col(rk)).as("d_r"))
      val actual = left.join(right, col(lk) === col(rk))
        .agg(count(lit(1)).as("actual"))
      ls.crossJoin(rs).crossJoin(actual)
        .select(lit(name).as("join_name"), $"n_l", $"n_r", $"d_l", $"d_r",
          expr("n_l * n_r div greatest(d_l, d_r)").as("est"), $"actual")
        .withColumn("err_ppm",
          expr("abs(est - actual) * 1000000 div greatest(actual, 1)"))
    }
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val l = Tables.lineitem(spark, dir)
    // the m:n case is where the formula actually errs: FK joins with
    // complete NDV stats estimate exactly (actual ≡ n_fact — the first
    // three rows PROVE that), while a many-many self-join's true size is
    // Σ_u c_u·p_u, which the independence assumption understates under
    // skew — the audit's reason to exist
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("cu"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"))
    audit("orders_customer", o, "o_custkey", c, "c_custkey")
      .unionByName(audit("lineitem_orders", l, "l_orderkey", o, "o_orderkey"))
      .unionByName(audit("lineitem_part", l, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionByName(audit("clicks_purchases_user", clicks, "cu",
        purchases, "pu"))
      .orderBy($"join_name")
  }

  /** Frequent 3-event PATH mining — the sequential-pattern step past
    * q118's Markov matrix: transitions say "click follows view"; paths
    * say "view→click→purchase beats view→click→error" with full
    * 3-step context (the Markov chain cannot distinguish them — it
    * forgets the first step). Per user timeline (µs-pinned order,
    * event_id tie-break), every window of three consecutive events
    * becomes a path; global counts, support in basis points, top-20.
    *
    * Scale shape: TWO `lead`s over ONE per-user window (one sort), then
    * keyed counting over the O(types³) path domain with map-side
    * partials; the cut is a TakeOrdered. Longer patterns are more
    * leads over the same single window — never a self-join per step
    * (the classic a-priori join blows up; consecutive windows don't). */
  def pathMining(spark: SparkSession, dir: String,
                 topK: Int = 20): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val paths = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .select($"event_type".as("e1"),
        lead($"event_type", 1).over(w).as("e2"),
        lead($"event_type", 2).over(w).as("e3"))
      .filter($"e2".isNotNull && $"e3".isNotNull)
      .groupBy($"e1", $"e2", $"e3").agg(count(lit(1)).as("cnt"))
    val total = paths.agg(sum($"cnt").as("n_total"))
    paths.crossJoin(broadcast(total))
      .select($"e1", $"e2", $"e3", $"cnt",
        expr("cnt * 10000 div n_total").as("support_bp"))
      .orderBy($"cnt".desc, $"e1", $"e2", $"e3")
      .limit(topK)
  }

  /** Integer-exact EWMA smoothing over the last 28 days of per-type
    * event volume — the ops anomaly baseline (yesterday's smoothed level
    * vs today's count) with the recurrence s_t = (3·x_t + 7·s_{t−1}) div
    * 10 (α = 0.3 in exact tenths, floor division — float α would
    * hash-diverge on the 28-step chain). EWMA is sequential by nature;
    * the engine keeps it scale-sound by bounding the sequence to the
    * CALENDAR (28 slots per type, zero-filled), so the per-type state is
    * a fixed-width array and the recurrence is a bounded in-row
    * `aggregate` fold — never a data-sized window or a driver loop.
    *
    * Scale shape: one (type, day) count aggregation (map-side partials;
    * day domain fixed), the 28-slot grid built from a broadcast 1-row
    * max-day aggregate, one per-type array roll-up of exactly 28
    * elements, and the 28×28 triangular fold is constant work per type.
    * Output: (type, pos, day count, smoothed level) per slot. */
  def ewmaDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val md = ev.agg(max($"day").as("maxd"))
    val cnt = ev.crossJoin(broadcast(md))
      .filter(datediff($"maxd", $"day") < 28)
      .groupBy($"event_type",
        (lit(27) - datediff($"maxd", $"day")).as("pos"))
      .agg(count(lit(1)).as("x"))
    val grid = ev.select($"event_type").distinct()
      .select($"event_type", explode(sequence(lit(0), lit(27))).as("pos"))
    val arr = grid.join(cnt, Seq("event_type", "pos"), "left")
      .select($"event_type", $"pos", coalesce($"x", lit(0L)).as("x"))
      .groupBy($"event_type")
      .agg(expr("transform(array_sort(collect_list(struct(pos, x))), p -> p.x)")
        .as("xs"))
    arr.select($"event_type", explode(expr(
        """transform(sequence(0, 27), i -> struct(
          |  cast(i as long) AS pos, xs[i] AS x,
          |  aggregate(slice(xs, 2, i), xs[0],
          |    (s, x) -> (3 * x + 7 * s) div 10) AS ewma))""".stripMargin))
        .as("r"))
      .select($"event_type", $"r.pos", $"r.x", $"r.ewma")
      .orderBy($"event_type", $"pos")
  }

  /** ARRIVAL OVERDISPERSION (q263) — the Fano factor of hourly event
    * counts per type: variance/mean of counts over the corpus's dense
    * hour span, as an exact integer rational in ppm. Fano = 1 is
    * Poisson arrivals; ≫ 1 is bursty/clumped traffic (bot bursts,
    * batch backfills), ≪ 1 is suspiciously regular (paced crawlers,
    * dedupe-worthy heartbeats). The q181 burst detector flags WHICH
    * hours; this says whether a type's whole arrival process is
    * burst-shaped — the triage column. Zero-count hours matter (they
    * ARE the variance) and cost nothing: over the dense span H, n = H,
    * Σx = the type's total, Σx² = the sum over ACTIVE hours — the
    * zeros contribute nothing to either power sum, so no grid explode
    * exists. Fano·10⁶ = (H·Σx² − Σx²ᵗᵒᵗ)·10⁶ div (H·Σx) with the
    * oversized products on DECIMAL(38)/HUGEINT.
    *
    * Scale shape: one (type, hour) count — the q17 exchange — then an
    * O(types) rollup; the global span is a broadcast 1-row aggregate. */
  def arrivalOverdispersion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hours = Tables.events(spark, dir)
      .select($"event_type", expr("unix_timestamp(ts) div 3600").as("h"))
    val span = hours.agg((max($"h") - min($"h") + 1).as("n_hours"))
    val perHour = hours.groupBy($"event_type", $"h")
      .agg(count(lit(1)).as("c"))
    perHour.groupBy($"event_type")
      .agg(count(lit(1)).as("n_active_hours"),
        sum($"c").as("n_events"), sum($"c" * $"c").as("sum_sq"))
      .crossJoin(broadcast(span))
      .select($"event_type", $"n_events", $"n_hours", $"n_active_hours",
        expr("CAST((CAST(n_hours AS DECIMAL(38,0)) * sum_sq" +
          " - CAST(n_events AS DECIMAL(38,0)) * n_events) * 1000000" +
          " div (CAST(n_hours AS DECIMAL(38,0)) * n_events) AS BIGINT)")
          .as("fano_ppm"))
      .orderBy($"event_type")
  }

  /** Bradley–Terry preference-strength fit (Bradley & Terry 1952) via
    * Hunter's MM algorithm (Hunter 2004, eq. 1.4) — the model RLHF
    * reward-data pipelines fit over pairwise preference comparisons to
    * rank items and mine annotator-consistent training pairs. Duels
    * come from the event stream: per user, every pair of event types
    * with different engagement totals is one comparison won by the
    * higher total (engagement in EXACT cents — per-row half-up cent
    * quantization then BIGINT sums, so the winner predicate is an
    * integer test, never an order-dependent double sum).
    *
    * The MM update π'ᵢ = Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ) runs [[iters]] fixed
    * rounds entirely in fixed-point u-units (π·10⁸ as BIGINT):
    * each pair term quantizes to a micro-LONG before the per-item sum
    * (order-independent), the denominator and normalizer divisions are
    * single IEEE ops on exact integers, and each round renormalizes to
    * Σπ = K (BT is scale-invariant; without the pin the scale drifts
    * and cross-engine comparison would chase it). The oracle unrolls
    * the identical integer arithmetic as CTEs.
    *
    * Scale shape: duels need per-user scores — one (user, type)
    * aggregation with map-side partials — then a user-keyed self-join
    * whose per-user fan-out is bounded by the TYPE-domain square, not
    * the corpus (the bounded-block discipline of q312/q114's keepers).
    * Everything after the wins aggregation operates on the
    * O(types²) comparison matrix: the iterations are joins over a
    * barriered ≤|types|-row relation, broadcast-normalized — constant
    * work regardless of corpus size. */
  def bradleyTerry(spark: SparkSession, dir: String,
                   iters: Int = 3): DataFrame = {
    import spark.implicits._
    val sb = graft.CacheGuard.barrier(
      Tables.events(spark, dir)
        .select($"user_id", $"event_type",
          floor($"value" * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .groupBy($"user_id", $"event_type")
        .agg(sum($"cents").as("score")))
    val duels = sb.as("a").join(sb.as("b"),
        $"a.user_id" === $"b.user_id" &&
          $"a.event_type" < $"b.event_type")
      .filter($"a.score" =!= $"b.score")
      .select(
        when($"a.score" > $"b.score", $"a.event_type")
          .otherwise($"b.event_type").as("winner"),
        when($"a.score" > $"b.score", $"b.event_type")
          .otherwise($"a.event_type").as("loser"))
    // O(types²) comparison matrix: EAGER lineage cuts from here down —
    // without them every MM round's logical plan re-nests the duel join
    // and its own predecessors, and Catalyst re-analyzes an
    // exponentially-duplicated tree (the Components round-cut lesson;
    // the uncut 3-round plan measured 18k lines / 2.7k Exchange nodes
    // and ~34 s of pure driver-side planning at sf0.1). localCheckpoint
    // in local mode; reliable checkpoint() on a real cluster.
    val wins = duels.groupBy($"winner", $"loser").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    graft.CacheGuard.drop(sb) // the duel join is materialized in wins
    val dirRel = wins
      .select($"winner".as("i"), $"loser".as("j"), $"w".as("n"))
      .unionByName(wins.select($"loser".as("i"), $"winner".as("j"),
        $"w".as("n")))
      .groupBy($"i", $"j").agg(sum($"n").as("n_ij"))
      .localCheckpoint()
    val items = dirRel.groupBy($"i".as("item")).agg(sum($"n_ij").as("n_comps"))
      .join(wins.groupBy($"winner".as("item")).agg(sum($"w").as("wins")),
        Seq("item"), "left")
      .na.fill(0L, Seq("wins"))
      .localCheckpoint()
    graft.CacheGuard.dropCheckpoint(wins) // dirRel/items hold the data now
    val k = items.agg(count(lit(1)).as("n_items"))
    var pi = items.select($"item", lit(100000000L).as("u"))
    var prevRound: Option[DataFrame] = None
    for (_ <- 0 until iters) {
      val d = dirRel
        .join(pi.select($"item".as("i"), $"u".as("u_i")), Seq("i"))
        .join(pi.select($"item".as("j"), $"u".as("u_j")), Seq("j"))
        .withColumn("t_u", floor((($"n_ij".cast("double") * lit(1e8)) /
          greatest($"u_i" + $"u_j", lit(1L)).cast("double")) * lit(1e6) +
          lit(0.5)).cast("long"))
        .groupBy($"i".as("item")).agg(sum($"t_u").as("d_u"))
      val raw = items.select($"item", $"wins").join(d, Seq("item"))
        .withColumn("r_u", floor((($"wins".cast("double") * lit(1e6)) /
          $"d_u".cast("double")) * lit(1e8) + lit(0.5)).cast("long"))
      val s = raw.agg(sum($"r_u").as("s_u"))
      val next = raw.crossJoin(broadcast(s)).crossJoin(broadcast(k))
        .select($"item",
          floor((($"r_u".cast("double") / $"s_u".cast("double")) *
            $"n_items".cast("double")) * lit(1e8) + lit(0.5))
            .cast("long").as("u"))
        .localCheckpoint() // eager: this IS the round's action
      prevRound.foreach(graft.CacheGuard.dropCheckpoint)
      prevRound = Some(next)
      pi = next
    }
    graft.CacheGuard.dropCheckpoint(dirRel) // rounds done; output needs items+pi
    val lastRound = prevRound
    graft.CacheGuard.onRelease { () =>
      graft.CacheGuard.dropCheckpoint(items)
      lastRound.foreach(graft.CacheGuard.dropCheckpoint)
    }
    items.join(pi, Seq("item"))
      .select($"item".as("event_type"), $"wins", $"n_comps",
        $"u".as("strength_u"),
        ($"u".cast("double") / lit(1e8)).as("strength"))
      .orderBy(desc("strength_u"), $"event_type")
  }

  /** pass@k estimator (Chen et al. 2021, "Evaluating LLMs Trained on
    * Code", eq. 1) — the unbiased estimator every code/agentic eval
    * pipeline aggregates: given n samples per task with c passing,
    * pass@k = 1 − C(n−c,k)/C(n,k), averaged over tasks. Tasks are
    * fixed 20-id event blocks; a "sample passes" when its event type
    * is a conversion (purchase/signup).
    *
    * EXACT arithmetic end-to-end: the binomial ratio is the falling-
    * factorial product Π_{i<k}(n−c−i)/Π_{i<k}(n−i), both products
    * computed as BIGINT left-folds over `sequence(0, k−1)` (when
    * n−c < k the numerator's term chain crosses zero exactly and the
    * product is 0 — the estimator's c > n−k branch falls out of the
    * integer algebra, no special case). The per-task probability is
    * one division of exact integers, quantized to micro-units before
    * the cross-task sum (order-independent), one final division for
    * the mean. n ≤ block size keeps every product ≪ 2⁵³.
    *
    * Scale shape: one (task) aggregation with map-side partials, the
    * k fan-out an explode over a 3-element literal (q138's sweep
    * shape), one O(k) re-aggregation. No window, no join. */
  def passAtK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tasks = Tables.events(spark, dir)
      .select(expr("event_id div 20").as("task"),
        when($"event_type".isin("purchase", "signup"), 1L).otherwise(0L)
          .as("pass"))
      .groupBy($"task").agg(count(lit(1)).as("n"), sum($"pass").as("c"))
    tasks
      .withColumn("k", explode(typedlit(Seq(1L, 5L, 10L))))
      .filter($"n" >= $"k")
      .withColumn("num", expr(
        "aggregate(sequence(0L, k - 1L), 1L, (acc, i) -> acc * (n - c - i))"))
      .withColumn("den", expr(
        "aggregate(sequence(0L, k - 1L), 1L, (acc, i) -> acc * (n - i))"))
      .withColumn("p_u6", floor((lit(1.0) - $"num".cast("double") /
        $"den".cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy($"k")
      .agg(count(lit(1)).as("n_tasks"), sum($"n").as("n_samples"),
        sum($"c").as("n_passing"), sum($"p_u6").as("sum_u6"))
      .select($"k", $"n_tasks", $"n_samples", $"n_passing", $"sum_u6",
        (floor((($"sum_u6".cast("double") / lit(1e6)) /
          $"n_tasks".cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("pass_at_k"))
      .orderBy($"k")
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff 1970; 2004
    * §11) — the agreement coefficient for the panels Fleiss' kappa
    * (q312) cannot score: VARYING raters per item (real crowd labels
    * are ragged — raters skip items). Panels are the q312 event
    * blocks but with a deterministic per-item panel size
    * 2 + (item mod 4) ∈ {2..5}; under-filled panels drop.
    *
    * INTEGER-EXACT via the common-denominator trick: each unit's
    * pairwise-disagreement term (m_u² − Σ_c n_uc²)/(m_u − 1) has
    * denominator (m_u−1) ∈ {1,2,3,4}, every one dividing 12, so the
    * observed-disagreement sum is carried as exact 12ths
    * (`d_o_num12` BIGINT). Coincidence-matrix marginals n_c = Σ_u
    * n_uc give expected disagreement (n² − Σn_c²)/(n(n−1)), and
    *   α = 1 − (n−1)·d_o_num12 / (12·(n² − Σn_c²))
    * is ONE division of exact BIGINTs, quantized r6; the degenerate
    * single-category corpus (Σn_c² = n²) is explicitly NULL.
    *
    * Scale shape: the q312 panel window (25-row bounded partitions),
    * one (item, category) aggregation, everything downstream
    * re-aggregates the barriered O(items·categories) relation. */
  def krippendorffAlpha(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"item").orderBy($"pri", $"event_id")
    val ranked = graft.CacheGuard.barrier(
      Tables.events(spark, dir)
        .select($"event_id", $"event_type",
          expr("event_id div 25").as("item"),
          md5($"event_id".cast("string")).as("pri"))
        .withColumn("want", lit(2L) + pmod($"item", lit(4L)))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= $"want"))
    val full = ranked.groupBy($"item", $"want")
      .agg(count(lit(1)).as("m")).filter($"m" === $"want")
      .select($"item", $"m")
    val nij = graft.CacheGuard.barrier(
      ranked.join(full, Seq("item"))
        .groupBy($"item", $"m", $"event_type")
        .agg(count(lit(1)).as("nij")))
    val perUnit = nij.groupBy($"item", $"m")
      .agg(sum($"nij" * $"nij").as("sq"))
      .agg(count(lit(1)).as("n_units"),
        sum(expr("(m * m - sq) * (12 div (m - 1))")).as("d_o_num12"))
    val marg = nij.groupBy($"event_type").agg(sum($"nij").as("n_c"))
      .agg(sum($"n_c").as("n"), sum($"n_c" * $"n_c").as("marg_sq"),
        count(lit(1)).as("n_categories"))
    perUnit.crossJoin(marg)
      .select($"n_units", $"n".as("n_ratings"), $"n_categories",
        $"d_o_num12", $"marg_sq",
        (floor(($"d_o_num12".cast("double") /
          (lit(12.0) * $"n".cast("double"))) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("d_o"),
        (floor((($"n" * $"n" - $"marg_sq").cast("double") /
          ($"n" * ($"n" - lit(1L))).cast("double")) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("d_e"),
        when($"n" * $"n" === $"marg_sq", lit(null).cast("double"))
          .otherwise(floor((lit(1.0) -
            (($"n" - lit(1L)) * $"d_o_num12").cast("double") /
            (lit(12L) * ($"n" * $"n" - $"marg_sq")).cast("double")) *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("alpha"))
  }

  /** Fleiss' kappa inter-rater agreement (Fleiss 1971) — the label-QA
    * gate a preference/SFT labeling pipeline runs before training on
    * crowd labels: chance-corrected agreement across MANY raters with
    * exactly n ratings per item (Cohen's kappa, q151, covers only the
    * two-rater case). Rating panels are built deterministically from
    * the event stream: items are fixed 25-id event blocks, each item's
    * panel is its n=5 md5-priority-smallest events (incomplete panels
    * drop — Fleiss requires constant n), and the rating is the event
    * type.
    *
    * Everything up to the two report divisions is INTEGER-EXACT:
    * A = Σᵢⱼ nᵢⱼ² gives P̄ = (A − N·n)/(N·n·(n−1)), and the category
    * marginals give P̄ₑ = Σⱼ cⱼ²/(N·n)² — each one division of exact
    * BIGINTs, quantized r6; kappa = (P̄−P̄ₑ)/(1−P̄ₑ) is then computed
    * from the two QUANTIZED values (identical doubles in both engines)
    * and quantized again, with the degenerate P̄ₑ=1 single-category
    * case explicitly NULL.
    *
    * Scale shape: the rating-panel window partitions by the 25-row
    * item block — bounded partitions, never a corpus-wide window (the
    * q87/q264 discipline) — then one (item, category) aggregation with
    * map-side partials; A and the marginals re-aggregate that
    * barriered O(items·categories) relation, and the report is a
    * 1-row cross of two broadcast aggregates. */
  def fleissKappa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = 5
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"item").orderBy($"pri", $"event_id")
    val ranked = graft.CacheGuard.barrier(
      Tables.events(spark, dir)
        .select($"event_id", $"event_type",
          expr("event_id div 25").as("item"),
          md5($"event_id".cast("string")).as("pri"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= n))
    val full = ranked.groupBy($"item").agg(count(lit(1)).as("m"))
      .filter($"m" === n).select($"item")
    val nij = graft.CacheGuard.barrier(
      ranked.join(full, Seq("item"))
        .groupBy($"item", $"event_type").agg(count(lit(1)).as("nij")))
    val a = nij.agg(sum($"nij" * $"nij").as("a_sum"),
      countDistinct($"item").as("n_items"))
    val b = nij.groupBy($"event_type").agg(sum($"nij").as("c_j"))
      .agg(sum($"c_j" * $"c_j").as("b_sum"),
        count(lit(1)).as("n_categories"))
    a.crossJoin(b)
      .withColumn("p_bar", floor((($"a_sum" - $"n_items" * n).cast("double") /
        ($"n_items" * (n * (n - 1))).cast("double")) * lit(1e6) +
        lit(0.5)) / lit(1e6))
      .withColumn("p_e", floor(($"b_sum".cast("double") /
        (($"n_items" * n) * ($"n_items" * n)).cast("double")) * lit(1e6) +
        lit(0.5)) / lit(1e6))
      .select($"n_items", lit(n.toLong).as("n_raters"), $"n_categories",
        $"a_sum", $"b_sum", $"p_bar", $"p_e",
        when($"p_e" === 1.0, lit(null).cast("double"))
          .otherwise(floor((($"p_bar" - $"p_e") / (lit(1.0) - $"p_e")) *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("kappa"))
  }
}
