package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Failure-transparency contract of the bench harness: a broken query is
  * visible as `ok:false` with its error, never a silently-recorded timing,
  * and does not abort the queries after it. */
class BenchSpec extends SparkSpec {

  private def good(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d)

  private def bad(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/no_such_table.parquet")

  test("a deliberately-broken query yields ok:false with the error; others still run") {
    val json = Bench.run(spark, sf, Map(
      "a_ok" -> (good _),
      "b_broken" -> (bad _),
      "c_ok_after_failure" -> (good _)))
    assert(json.contains(""""b_broken":{"sec":"""))
    assert(json.contains(""""ok":false"""))
    assert(json.contains(""""n_failed":1"""))
    // queries after the failure still ran and are healthy
    assert(json.contains(""""c_ok_after_failure":{"sec":"""))
    assert(json.split(""""ok":true""").length - 1 === 2)
    // the error text is present and JSON-escaped into one line
    assert(json.contains(""""err":""") && !json.contains("\n"))
  }

  test("Probe's JSON line renders a failed query as null, never a number, and flags it") {
    val rs = Bench.measure(spark, sf, Map(
      "a_ok" -> (good _), "b_broken" -> (bad _)), reps = 1)
    val (line, failed) = Probe.summary(rs)
    assert(line.contains(""""b_broken":null"""), line)
    assert(""""a_ok":\d+\.\d{3}[,}]""".r.findFirstIn(line).nonEmpty, line)
    assert(failed)
    assert(!Probe.summary(rs.filter(_.ok))._2)
  }

  test("the result line is parseable shape: one object with total + per-query maps") {
    val json = Bench.run(spark, sf, Map("a_ok" -> (good _)))
    assert(json.startsWith("""{"metric":"total","value":"""))
    assert(json.contains(""""queries":{"a_ok":"""))
    assert(json.contains(""""health":{"a_ok":{"sec":"""))
    assert(json.contains(""""secs":[""")) // per-rep spread is visible
    // pressure attribution rides along: per-rep GC time + eviction flag
    assert(json.contains(""""gc_ms":["""))
    assert(json.contains(""""pressure":"""))
    assert(json.endsWith(s""""sf":"$sf"}"""))
  }

  test("reported sec is min over SUCCESSFUL reps when a rep failed") {
    // fails fast on rep 1, succeeds (slower, by construction) on rep 2: the
    // fast failed rep must not become the headline timing
    var calls = 0
    val flaky: (SparkSession, String) => DataFrame = (s, d) => {
      calls += 1
      if (calls == 1) throw new RuntimeException("transient")
      Thread.sleep(50)
      good(s, d)
    }
    val r = Bench.measure(spark, sf, Map("flaky" -> flaky), reps = 2).head
    assert(r.okSecs.size === 1 && r.secs.size === 2)
    assert(r.sec === r.okSecs.head)
    assert(r.sec >= 0.05) // the successful (slow) rep, not the failed fast one
    assert(!r.ok && r.err.get.contains("transient"))
  }

  test("the stdout line is slim: 3-decimal secs, failures inlined, bounded size") {
    val rs = Bench.measure(spark, sf, Map(
      "a_ok" -> (good _), "b_broken" -> (bad _)), reps = 1)
    val slim = Bench.renderSlim(rs, 1, sf)
    assert(slim.startsWith("""{"metric":"total","value":"""))
    assert(slim.contains(""""n_failed":1"""))
    // failures key by the qNN id like the query map (names in health file)
    assert(slim.contains(""""failed":{"b":"""))
    assert(slim.contains(""""health_file":"bench_health.json""""))
    // ~25 bytes/query: 60+ queries must still fit the consumer's 2000-char
    // output tail; per-rep spreads live in the health file, not here
    assert(!slim.contains(""""secs":["""))
    val perQuery = slim.length / rs.size
    assert(perQuery < 200, s"slim line too fat: $perQuery chars/query")
  }

  test("the stdout line never outgrows the consumer's tail window") {
    // simulate a 400-query suite: the inline map must be capped by
    // dropping the FASTEST queries into an "omitted" summary, keeping the
    // headline "value" (at the line HEAD — the part a tail-cut destroys)
    val rs = (1 to 400).map(i =>
      Bench.Measured(f"q$i%03d_synthetic", Seq(i / 100.0), Seq(i / 100.0), None))
    val slim = Bench.renderSlim(rs, 2, "/tmp/sf")
    assert(slim.length <= 1800, s"line is ${slim.length} chars")
    assert(slim.startsWith("""{"metric":"total","value":"""))
    assert(slim.contains(""""omitted":{"n":"""))
    // the slowest query survives the cut; the fastest is the one omitted
    assert(slim.contains(""""q400":"""))
    assert(!slim.contains(""""q001":"""))
    // a small suite is NOT truncated
    val small = Bench.renderSlim(rs.take(20), 2, "/tmp/sf")
    assert(!small.contains(""""omitted""""))
  }

  test("recompute gauge: stored→removed→stored counts one; demotion counts zero") {
    // Drive the probe's block state machine with synthetic events — the
    // evict-then-silent-recompute path is not deterministically forcible
    // from a small fixture, but the machine IS the mechanism (round 8's
    // q126 burned 18 s of clean-looking cpu_ms on exactly this).
    import org.apache.spark.GraftTestEvents.rddBlockUpdate
    val p = new BenchProbe
    def snap() = p.snap(spark.sparkContext)
    val s0 = snap()
    p.onBlockUpdated(rddBlockUpdate(1, 0, "MEMORY_AND_DISK")) // first store
    p.onBlockUpdated(rddBlockUpdate(1, 0, "DISK_ONLY"))       // demotion: live→live
    assert((snap() - s0).recompute === 0L)
    p.onBlockUpdated(rddBlockUpdate(1, 0, "NONE"))            // removed (evict)
    p.onBlockUpdated(rddBlockUpdate(1, 0, "MEMORY_AND_DISK")) // re-store = recompute
    val w = snap() - s0
    assert(w.recompute === 1L)
    assert(w.evicted >= 1L)
    // an unrelated block's first store still does not count
    p.onBlockUpdated(rddBlockUpdate(2, 0, "MEMORY_AND_DISK"))
    assert((snap() - s0).recompute === 1L)
  }

  test("health line carries the recompute and jit_ms attribution arrays") {
    val json = Bench.run(spark, sf, Map("a_ok" -> (good _)))
    assert(json.contains(""""recompute":["""))
    assert(json.contains(""""jit_ms":["""))
  }

  test("jit-adjusted seconds and drift ratios: flag rule uses jit_adj_sec vs FIRST-recorded") {
    import graft.BenchProbe.Snap
    def m(name: String, sec: Double, jitMs: Long) =
      Bench.Measured(name, Seq(sec), Seq(sec), None,
        gcMs = Seq(0L),
        probe = Seq(Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, jitMs = jitMs)))
    // 4.0 s wall of which 3.5 s is HotSpot compile → jit_adj capped at
    // sec/2 = 2.0 s: NOT flagged against a 1.0 s baseline (raw ratio 4×
    // would false-alarm); a genuinely slow row (4.0 s, no jit) IS
    // flagged; a compile-storm row vs a 0.9 s baseline IS flagged —
    // under the old uncapped rule its jit_adj saturated to 0.0 and the
    // flag could never fire (round-11 verdict finding #2)
    val rs = Seq(m("q01_a", 4.0, 3500L), m("q02_b", 4.0, 0L),
      m("q03_nobase", 1.0, 0L), m("q04_sat", 4.0, 9000L))
    val rec = Map("q01_a" -> 1.0, "q02_b" -> 1.0, "q04_sat" -> 0.9)
    val prev = Map("q01_a" -> 2.0, "q02_b" -> 2.0, "q03_nobase" -> 1.0)
    val full = Bench.renderFull(rs, 1, "/tmp/sf", rec, prev)
    assert(full.contains(""""jit_adj_sec":2.000"""))
    assert(full.contains(""""vs_first_recorded":4.000,"flagged":false"""))
    assert(full.contains(""""vs_first_recorded":4.000,"flagged":true"""))
    assert(full.contains(""""vs_first_recorded":4.444,"flagged":true"""))
    assert(full.contains(""""vs_prev_round":2.000"""))
    // aggregates: first-recorded common set excludes the baseline-less
    // query and carries the flag counter; prev-round covers three
    assert(full.contains(""""vs_first_recorded":{"n_common":3"""))
    assert(full.contains(""""n_flagged_jitadj_over2x":2"""))
    assert(full.contains(""""vs_prev_round":{"n_common":3"""))
    val slim = Bench.renderSlim(rs, 1, "/tmp/sf", rec, prev)
    assert(slim.contains(""""vs_first_recorded":{"n":3,"ratio":4.138,"flag2x":2}"""))
    assert(slim.contains(""""vs_prev_round":{"n":3,"ratio":1.800}"""))
    // without baseline files nothing is emitted (bootstrap rounds)
    assert(!Bench.renderSlim(rs, 1, "/tmp/sf").contains("vs_"))
  }

  test("noise floor: a sub-second row over 2x but under 0.5 s absolute excess does not flag") {
    import graft.BenchProbe.Snap
    def m(name: String, sec: Double) =
      Bench.Measured(name, Seq(sec), Seq(sec), None, gcMs = Seq(0L),
        probe = Seq(Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, jitMs = 0L)))
    // the q111/q113/q272 class (r13–r14): a ~0.5 s row reads 2.06x on a
    // noisy run — ratio says flag, absolute excess (~0.5 s of scheduler
    // jitter) says noise. The round-15 rule is the conjunction.
    assert(!m("q_sub", 0.95).flaggedVs(0.497)) // 1.91x, +0.45 s → noise
    assert(!m("q_sub", 0.9).flaggedVs(0.44))   // 2.05x, +0.46 s → noise
    assert(m("q_sub", 1.5).flaggedVs(0.44))    // 3.4x, +1.06 s → real
    assert(!m("q_big", 5.9).flaggedVs(3.0))    // 1.97x, +2.9 s → ratio gate holds
    assert(m("q_big", 6.1).flaggedVs(3.0))     // 2.03x, +3.1 s → flags exactly as before
  }

  test("a tied failed rep is excluded from jit adjustment by rep index (not value equality)") {
    import graft.BenchProbe.Snap
    def snap(jitMs: Long) = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, jitMs = jitMs)
    // rep0 FAILED in 4.0 s with 3.9 s of jit; rep1 succeeded in exactly
    // 4.0 s with no jit. Value-equality matching would admit rep0's
    // adjusted 0.1 s as the headline jit-adjusted minimum.
    val r = Bench.Measured("q_tied", Seq(4.0, 4.0), Seq(4.0),
      Some("boom"), gcMs = Seq(0L, 0L),
      probe = Seq(snap(3900L), snap(0L)), repOk = Seq(false, true))
    assert(r.jitAdjSec === 4.0)
  }

  test("jit adjustment is capped at 50% of wall — a compile storm can no longer zero a row") {
    import graft.BenchProbe.Snap
    def m(sec: Double, jitMs: Long) =
      Bench.Measured("q_cap", Seq(sec), Seq(sec), None, gcMs = Seq(0L),
        probe = Seq(Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, jitMs = jitMs)))
    // jit_ms sums across HotSpot compiler threads and can exceed wall
    // time; the floor keeps the row flaggable (never 0.0 while sec > 0)
    assert(m(4.0, 9000L).jitAdjSec === 2.0)
    assert(m(4.0, 3000L).jitAdjSec === 2.0) // clamped to the floor
    assert(m(4.0, 1000L).jitAdjSec === 3.0) // below the floor: unclamped
    assert(m(4.0, 0L).jitAdjSec === 4.0)
  }

  test("recordedBaselines parses the committed per-query baseline file (frozen, mixed provenance)") {
    val rec = Bench.recordedBaselines(
      new java.io.File("BASELINE_queries.json").getAbsolutePath)
    assert(rec.size > 200, s"parsed ${rec.size} baselines")
    assert(rec.values.forall(_ > 0))
    assert(rec.contains("q01_reddit_filter"))
    // the freeze (round 11): rows keep their first-recorded round — the
    // file must never again be wholesale re-stamped to a single round
    val txt = java.nio.file.Files.readString(
      java.nio.file.Path.of("BASELINE_queries.json"))
    val rounds = """"round":\s*(\d+)""".r.findAllMatchIn(txt)
      .map(_.group(1).toInt).toSet
    assert(rounds.size > 3, s"provenance collapsed to $rounds — ratchet regression")
  }

  test("prevRoundBaselines reads the newest committed health snapshot") {
    val prev = Bench.prevRoundBaselines(".")
    assert(prev.size > 200, s"parsed ${prev.size} prev-round rows")
    assert(prev.contains("q01_reddit_filter"))
  }

  test("self-adjudication: repin readings + host fingerprint ride the artifact (r16 ask #1)") {
    import graft.BenchProbe.Snap
    // suite rows: q01 flagged AND swrite-dominated (the contention
    // fingerprint), q02 quiet; per-rep host load recorded on both
    def m(name: String, sec: Double, swriteMs: Long, taskMs: Long) =
      Bench.Measured(name, Seq(sec), Seq(sec), None, gcMs = Seq(0L),
        probe = Seq(Snap(taskMs, 0, 0, 0, swriteMs, 0, 0, 0, 0)),
        repOk = Seq(true), loadAvg = Seq(7.25))
    val rs = Seq(m("q01_slow", 10.0, 9000L, 16000L), m("q02_ok", 1.0, 0L, 900L))
    val rec = Map("q01_slow" -> 1.0, "q02_ok" -> 1.0)
    // the repin: q01 lands back at ~baseline → adjudicated host noise
    val repins = Map("q01_slow" ->
      Bench.Measured("q01_slow", Seq(1.3, 1.2, 1.1), Seq(1.3, 1.2, 1.1), None,
        gcMs = Seq(0L, 0L, 0L),
        probe = Seq.fill(3)(Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)),
        repOk = Seq(true, true, true)))
    val full = Bench.renderFull(rs, 1, "/tmp/sf", rec, Map.empty, repins)
    // per-query: the repin readings + their own adjudication
    assert(full.contains(""""repin_sec":1.1"""))
    assert(full.contains(""""repin_secs":[1.3,1.2,1.1]"""))
    assert(full.contains(""""repin_flagged":false"""))
    // per-query fingerprint: rep loads + worst-rep shuffle-write share
    assert(full.contains(""""load":[7.25]"""))
    assert(full.contains(""""swrite_share":0.56"""))
    // suite-level: host block + the adjudication counters — 1 flagged,
    // 1 swrite-dominated, 1 repinned, 0 still flagged = degraded host
    assert(full.contains(""""host":{"cores":"""))
    assert(full.contains(
      """"adjudication":{"n_flagged":1,"n_swrite_dominated":1,"n_repinned":1,"n_flagged_after_repin":0}"""))
    val slim = Bench.renderSlim(rs, 1, "/tmp/sf", rec, Map.empty, repins)
    assert(slim.contains(""""repin":{"n":1,"still_flagged":0}"""))
    // a repin that STAYS slow is a real regression and says so
    val badRepin = Map("q01_slow" ->
      Bench.Measured("q01_slow", Seq(9.0, 9.1, 9.2), Seq(9.0, 9.1, 9.2), None,
        gcMs = Seq(0L, 0L, 0L),
        probe = Seq.fill(3)(Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)),
        repOk = Seq(true, true, true)))
    val full2 = Bench.renderFull(rs, 1, "/tmp/sf", rec, Map.empty, badRepin)
    assert(full2.contains(""""repin_flagged":true"""))
    assert(full2.contains(""""n_flagged_after_repin":1"""))
  }

  test("repinFlagged re-measures only the rows that flag against their baseline") {
    val slow: (SparkSession, String) => DataFrame = (s, d) => {
      Thread.sleep(700); good(s, d) // > noise floor, >2x its 0.01 baseline
    }
    val qs = Map("a_slow" -> slow, "b_fast" -> (good _))
    val results = Bench.measure(spark, sf, qs, reps = 1)
    val rec = Map("a_slow" -> 0.01, "b_fast" -> 100.0)
    val repins = Bench.repinFlagged(spark, sf, qs, results, rec, reps = 3)
    assert(repins.keySet === Set("a_slow"))
    assert(repins("a_slow").secs.size === 3) // standalone min-of-3
    // per-rep host load was sampled on the suite rows
    assert(results.forall(_.loadAvg.nonEmpty))
  }

  test("a mass failure stays within the line budget: failed map is capped") {
    // 200 failures at ~90 chars each would be 18 KB uncapped — the line
    // must keep the first few and count the rest
    val rs = (1 to 200).map(i =>
      Bench.Measured(f"q$i%03d_synthetic", Seq(0.1), Nil,
        Some("FileNotFoundException: " + "x" * 60)))
    val slim = Bench.renderSlim(rs, 1, "/tmp/sf")
    assert(slim.length <= 1800, s"line is ${slim.length} chars")
    assert(slim.contains(""""n_failed":200"""))
    assert(slim.contains(""""failed":{"q001":"""))
    assert(slim.contains(""""failed_more":195"""))
  }
}
