package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("exactDedup: the doubled corpus gives every text exactly 2 copies") {
    val out = DedupOps.exactDedup(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.length === nDocs) // each original text forms one dup group
    out.foreach { r =>
      assert(r.getAs[Long]("n_copies") === 2L)
      assert(r.getAs[Long]("keep_doc_id") < DedupOps.dupOffset) // min id = original
    }
  }

  test("simHashPairs: pairs respect the Hamming radius; exact dups land at distance 0") {
    val rows = DedupOps.simHashPairs(spark, sf).collect()
    graft.CacheGuard.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
      assert(r.getAs[Long]("hamming") >= 0L &&
        r.getAs[Long]("hamming") <= DedupOps.simHammingMax)
    }
    // identical texts have identical fingerprints: every found exact-dup
    // pair sits at distance 0 (the cap may drop some blocks, so presence
    // is asserted on the set that survived, equality on all of them)
    val exact = rows.filter(r =>
      r.getAs[Long]("b") === r.getAs[Long]("a") + DedupOps.dupOffset)
    assert(exact.nonEmpty)
    exact.foreach(r => assert(r.getAs[Long]("hamming") === 0L))
  }

  test("detectorAgreement: bucket counts re-sum to the two detectors' pair sets") {
    val rows = DedupOps.detectorAgreement(spark, sf).collect()
    graft.CacheGuard.release()
    val m = rows.map(r => r.getAs[String]("method") ->
      (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_exact_dups"))).toMap
    val nMh = DedupOps.minHashLshPairsOracled(spark, sf).count()
    graft.CacheGuard.release()
    val nSh = DedupOps.simHashPairs(spark, sf).count()
    graft.CacheGuard.release()
    def of(k: String) = m.getOrElse(k, (0L, 0L))
    assert(of("both")._1 + of("minhash_only")._1 === nMh)
    assert(of("both")._1 + of("simhash_only")._1 === nSh)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact_dups") <= r.getAs[Long]("n_pairs"))
    }
    // agreement exists: the seeded copies are found by both detectors
    assert(of("both")._2 > 0L)
  }

  test("dedupClusterHistogram: families cover the doubled corpus; row arithmetic consistent") {
    val rows = DedupOps.dedupClusterHistogram(spark, sf).collect()
    graft.CacheGuard.release()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === 2 * nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") ===
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
    }
    // the seeded copies guarantee multi-doc families exist
    assert(rows.exists(_.getAs[Long]("cluster_size") >= 2L))
  }

  test("minhashAccuracyAudit: exact-dup pairs have zero error; errors bounded") {
    val rows = DedupOps.minhashAccuracyAudit(spark, sf).collect()
    graft.CacheGuard.release()
    val est = DedupOps.minHashLshPairsOracled(spark, sf).count()
    graft.CacheGuard.release()
    assert(rows.length.toLong === est) // one audit row per q55 pair
    rows.foreach { r =>
      val (e, x) = (r.getAs[Double]("est_jaccard"),
        r.getAs[Double]("exact_jaccard"))
      assert(e >= 0.0 && e <= 1.0)
      assert(x >= 0.0 && x <= 1.0)
      assert(r.getAs[Double]("abs_err") ===
        BigDecimal((e - x).abs).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      // a shifted full copy is set-identical: both estimator and truth say 1
      if (r.getAs[Long]("b") === r.getAs[Long]("a") + DedupOps.dupOffset) {
        assert(e === 1.0 && x === 1.0 && r.getAs[Double]("abs_err") === 0.0)
      }
    }
  }

  test("duplicatedRuns: adjacent duplicated spans chain into one maximal run; gaps split") {
    import spark.implicits._
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val shared15 = words("s", 15)  // 3 aligned 5-token spans
    val sharedA = words("a", 5)
    val sharedB = words("b", 5)
    val corpus = Seq(
      // docs 1/2 share a 15-token prefix: spans 0,1,2 duplicated and
      // ADJACENT -> exactly one maximal run of 3 spans each
      (1L, s"$shared15 ${words("u", 5)}"),
      (2L, s"$shared15 ${words("v", 5)}"),
      // doc 3 has two SEPARATED duplicated spans (0 and 2) -> two runs
      (3L, s"$sharedA ${words("w", 5)} $sharedB"),
      // doc 4 carries the partners at non-adjacent offsets of its own
      (4L, s"$sharedB ${words("x", 5)} $sharedA"),
      // doc 5 is all-unique -> no rows at all
      (5L, words("z", 10))
    ).toDF("doc_id", "text")
    val out = DedupOps.duplicatedRunsOf(corpus).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_token"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("run_tokens"),
        r.getAs[Boolean]("long_run")))
    assert(out.toSeq === Seq(
      (1L, 0L, 3L, 15L, true),
      (2L, 0L, 3L, 15L, true),
      (3L, 0L, 1L, 5L, false), (3L, 10L, 1L, 5L, false),
      (4L, 0L, 1L, 5L, false), (4L, 10L, 1L, 5L, false)))
  }

  test("duplicatedRuns: seeded full copies collapse to one whole-document run") {
    import spark.implicits._
    val out = DedupOps.duplicatedRuns(spark, sf)
    // every seeded copy (id >= offset) is 100% duplicated text: all its
    // spans chain into a single run starting at token 0 covering every span
    val copies = out.filter($"doc_id" >= DedupOps.spanDupOffset)
    val spanCounts = Tables.documents(spark, sf)
      .filter($"doc_id" % DedupOps.spanDupMod === 0)
      .select(($"doc_id" + DedupOps.spanDupOffset).as("doc_id"),
        (size(graft.functions.TextFunctions.tokens($"text")) /
          DedupOps.spanLen).cast("long").as("exp_spans"))
      .filter($"exp_spans" > 0)
    val joined = copies.join(spanCounts, "doc_id").collect()
    assert(joined.nonEmpty)
    assert(joined.length ===
      copies.select($"doc_id").distinct().count().toInt) // ONE run per copy
    joined.foreach { r =>
      assert(r.getAs[Long]("start_token") === 0L)
      assert(r.getAs[Long]("n_spans") === r.getAs[Long]("exp_spans"))
    }
  }

  test("dedupRewrite: cut mass equals the long-run mass; seeded copies cut to nothing") {
    import spark.implicits._
    val rewritten = DedupOps.dedupRewrite(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_cut"),
          r.getAs[Long]("n_kept"), r.getAs[String]("kept_fp"))).toMap
    val runCut = DedupOps.duplicatedRuns(spark, sf).collect()
      .filter(_.getAs[Boolean]("long_run"))
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("run_tokens")).sum).toMap
    rewritten.foreach { case (id, (n, cut, kept, fp)) =>
      assert(n === cut + kept)
      assert(cut === runCut.getOrElse(id, 0L), s"doc $id") // q140 consistency
      assert(fp.length === 32)
    }
    // a seeded full copy whose every span chains is cut down to its tail
    // (the < spanLen remainder that no span grid covers)
    val copies = rewritten.filter(_._1 >= DedupOps.spanDupOffset)
    assert(copies.nonEmpty)
    copies.foreach { case (_, (n, cut, kept, _)) =>
      assert(cut === (n / DedupOps.spanLen) * DedupOps.spanLen
        || cut === 0L) // 0 only for docs too short to span
      if (n >= DedupOps.spanLen * DedupOps.minRunSpans)
        assert(kept === n % DedupOps.spanLen)
    }
  }

  test("ngramJaccardPairs: exact-dup pairs score jaccard 1.0") {
    val out = DedupOps.ngramJaccardPairs(spark, sf).collect()
    assert(out.nonEmpty)
    val dupPairs = out.filter(r =>
      r.getAs[Long]("b") === r.getAs[Long]("a") + DedupOps.dupOffset)
    assert(dupPairs.nonEmpty)
    dupPairs.foreach(r => assert(r.getAs[Double]("jaccard") === 1.0))
    out.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.6))
  }

  test("cache barriers release: no pinned storage after a query's action + CacheGuard.release") {
    spark.catalog.clearCache()
    graft.CacheGuard.release()
    // a barrier-using lazy query: the barrier must be LIVE after the
    // action (it is what stops Catalyst re-deriving signatures) ...
    DedupOps.minHashLshPairsOracled(spark, sf).count()
    assert(graft.CacheGuard.pending > 0)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    // barriers must survive storage pressure: MEMORY_AND_DISK, never the
    // MEMORY_ONLY default whose eviction silently recomputes the subtree
    spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
      assert(rdd.getStorageLevel ===
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        s"barrier ${rdd.name} not MEMORY_AND_DISK")
    }
    // ... and fully released once the consumer signals it is done
    graft.CacheGuard.release()
    assert(graft.CacheGuard.pending === 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"still pinned: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
    // an EAGER composed query (nearDupKeepers) releases its own barrier
    // inline; the persisted CC labels are freed by the release below
    DedupOps.nearDupKeepers(spark, sf).count()
    graft.CacheGuard.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("nearDupKeepers: every corpus doc labeled; dup copies collapse to the base keeper") {
    import spark.implicits._
    val out = DedupOps.nearDupKeepers(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.length.toLong === 2 * nDocs) // doubled corpus, every id labeled
    val keeperOf = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper")).toMap
    out.foreach { r =>
      val (id, k) = (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper"))
      assert(k <= id)                              // min-id election
      assert(keeperOf(k) === k)                    // keeper labels itself
      assert(r.getAs[Boolean]("is_keeper") === (id === k))
      assert(r.getAs[Long]("cluster_size") >= 1L)
    }
    // every (doc, doc+offset) exact-dup pair whose text has ≥3 tokens is a
    // MinHash-identical pair, so the shifted copy MUST collapse onto the base
    val eligible = Tables.documents(spark, sf)
      .filter(size(graft.functions.TextFunctions.tokens($"text")) >= 3)
      .select($"doc_id").as[Long].collect()
    eligible.foreach { id =>
      assert(keeperOf(id + DedupOps.dupOffset) === keeperOf(id),
        s"shifted copy of $id not in base cluster")
      assert(keeperOf(id) <= id)
    }
    // cluster sizes add back up to the corpus
    val sizes = out.filter(_.getAs[Boolean]("is_keeper"))
      .map(_.getAs[Long]("cluster_size")).sum
    assert(sizes === 2 * nDocs)
  }

  test("nearDupKeepers: each row's cluster_size is the number of rows sharing its keeper") {
    val out = DedupOps.nearDupKeepers(spark, sf).collect()
    graft.CacheGuard.release()
    val members = out.groupBy(_.getAs[Long]("keeper")).view.mapValues(_.length.toLong)
    assert(members.values.exists(_ > 1L)) // the corpus has real clusters
    out.foreach { r =>
      assert(r.getAs[Long]("cluster_size") === members(r.getAs[Long]("keeper")),
        s"doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("leakageSafeSplit: split constant within clusters; naive straddles are flagged; 8/1/1 shape") {
    import spark.implicits._
    val out = DedupOps.leakageSafeSplit(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.length.toLong === 2 * nDocs)
    // the whole point: one split per cluster, so near-dups never straddle
    val splitsPerKeeper = out.groupBy(_.getAs[Long]("keeper"))
      .map { case (_, rs) => rs.map(_.getAs[String]("split")).distinct.size }
    assert(splitsPerKeeper.forall(_ === 1))
    // leak_prevented ⇔ the cluster's naive per-doc splits disagree
    out.groupBy(_.getAs[Long]("keeper")).foreach { case (_, rs) =>
      val naive = rs.map(_.getAs[String]("naive_split")).distinct.size
      rs.foreach(r => assert(r.getAs[Boolean]("leak_prevented") === (naive > 1)))
    }
    // shifted exact-dup copies make straddling clusters common enough to
    // demonstrate the audit actually fires at this SF
    assert(out.count(_.getAs[Boolean]("leak_prevented")) > 0)
    // roughly 8/1/1 by construction of the mod-10 bucket
    val frac = out.count(_.getAs[String]("split") == "train").toDouble / out.length
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
    assert(out.map(_.getAs[String]("split")).distinct.toSet ===
      Set("train", "val", "test"))
  }

  test("qualityKeepers: exactly one survivor per cluster, and it is the best copy") {
    val out = DedupOps.qualityKeepers(spark, sf).collect()
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (_, rs) =>
      val kept = rs.filter(_.getAs[Boolean]("is_kept"))
      assert(kept.length === 1)
      val best = kept.head
      assert(rs.length.toLong === rs.head.getAs[Long]("cluster_size"))
      // survivor dominates: max n_chars, ties to lowest doc_id
      rs.foreach { r =>
        val better = r.getAs[Long]("n_chars") > best.getAs[Long]("n_chars") ||
          (r.getAs[Long]("n_chars") === best.getAs[Long]("n_chars") &&
            r.getAs[Long]("doc_id") < best.getAs[Long]("doc_id"))
        assert(!better, s"doc ${r.getAs[Long]("doc_id")} beats keeper")
        assert(r.getAs[Long]("best_doc_id") === best.getAs[Long]("doc_id"))
      }
    }
    // exact-dup pairs have equal n_chars → the BASE id survives
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    byId.keys.filter(_ >= DedupOps.dupOffset).foreach { id =>
      val twin = byId(id)
      if (twin.getAs[Long]("cluster_size") === 2L)
        assert(!twin.getAs[Boolean]("is_kept"), s"shifted copy $id kept")
    }
  }

  test("incrementalDedupGate: delta = added+changed only; re-added docs are certain hits; no false negatives") {
    import spark.implicits._
    val out = DedupOps.incrementalDedupGate(spark, sf).collect()
    val ids = Tables.documents(spark, sf).select($"doc_id").as[Long].collect().toSet
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id >= 300000L) {
        // re-added under a new id with identical text: exact dup of v1,
        // and a Bloom can never miss a true member
        assert(r.getAs[String]("status") === "added")
        assert(r.getAs[Boolean]("exact_dup"), s"re-added $id not exact dup")
        assert(r.getAs[Boolean]("bloom_hit"), s"Bloom false NEGATIVE on $id")
        assert(!r.getAs[Boolean]("false_positive"))
      } else {
        // v2-amended docs: new fingerprint, status changed
        assert(r.getAs[String]("status") === "changed")
        assert(id % 7 === 0 && ids.contains(id))
      }
      // false_positive consistency
      assert(r.getAs[Boolean]("false_positive") ===
        (r.getAs[Boolean]("bloom_hit") && !r.getAs[Boolean]("exact_dup")))
    }
    // the delta is the replay's closed form: %7 edits surviving the %5
    // drop, plus %11 re-adds
    val wantChanged = ids.count(i => i % 7 == 0 && i % 5 != 4)
    val wantAdded = ids.count(_ % 11 == 0)
    assert(out.count(_.getAs[String]("status") == "changed") === wantChanged)
    assert(out.count(_.getAs[String]("status") == "added") === wantAdded)
  }

  test("incrementalNearDupGate: re-added docs near-hit their original; sig-less docs surface with zero") {
    import spark.implicits._
    val out = DedupOps.incrementalNearDupGate(spark, sf).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val sigless = Tables.documents(spark, sf)
      .filter(size(graft.functions.TextFunctions.tokens($"text")) < 3)
      .select($"doc_id").as[Long].collect().toSet
    byId.foreach { case (id, r) =>
      assert(r.getAs[Boolean]("near_hit") === (r.getAs[Long]("n_near") > 0L))
      if (id >= 300000L) {
        assert(r.getAs[String]("status") === "added")
        val orig = id - 300000L
        if (!sigless.contains(orig)) {
          // identical text → identical signature → all bands collide
          assert(r.getAs[Boolean]("near_hit"), s"re-added $id missed history")
          assert(r.getAs[Long]("first_match") <= orig)
        } else {
          assert(r.getAs[Long]("n_near") === 0L) // nothing to sign
        }
      } else assert(r.getAs[String]("status") === "changed")
    }
    assert(byId.keys.count(_ >= 300000L) > 0)
  }

  test("spanDedupReport: seeded full copies are 100% duplicated and flagged; counts conserve") {
    import spark.implicits._
    val out = DedupOps.spanDedupReport(spark, sf).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val seeded = graft.Tables.documents(spark, sf)
      .filter($"doc_id" % DedupOps.spanDupMod === 0)
      .filter(org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.tokens($"text")) >= DedupOps.spanLen)
      .select($"doc_id").as[Long].collect()
    assert(seeded.nonEmpty)
    seeded.foreach { id =>
      for (d <- Seq(id, id + DedupOps.spanDupOffset)) {
        val r = byId(d)
        assert(r.getAs[Double]("dup_ratio") === 1.0, s"doc $d not fully dup")
        assert(r.getAs[Boolean]("flagged"))
      }
    }
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup_spans") <= r.getAs[Long]("n_spans"))
      val expectFlag = r.getAs[Long]("n_dup_spans") >
        DedupOps.spanDupThreshold * r.getAs[Long]("n_spans")
      assert(r.getAs[Boolean]("flagged") === expectFlag)
    }
  }

  test("bloomDedupGate: zero false negatives; seeded duplicates all hit; FP rate in band") {
    val out = DedupOps.bloomDedupGate(spark, sf).collect()
    assert(out.nonEmpty)
    // the Bloom contract: a "no" is certain — an exact duplicate can never
    // be missed by the filter
    out.foreach { r =>
      if (r.getAs[Boolean]("exact_dup")) assert(r.getAs[Boolean]("bloom_hit"))
      assert(r.getAs[Boolean]("false_positive") ===
        (r.getAs[Boolean]("bloom_hit") && !r.getAs[Boolean]("exact_dup")))
    }
    // every seeded re-arrival (shifted every-10th-even doc) is an exact dup
    val seeded = out.filter(_.getAs[Long]("doc_id") >= DedupOps.bloomNewOffset)
    assert(seeded.nonEmpty)
    seeded.foreach(r => assert(r.getAs[Boolean]("exact_dup")))
    // m=1024/k=3 at this fill gives a real but bounded FP rate
    val novel = out.filter(!_.getAs[Boolean]("exact_dup"))
    val fpRate = novel.count(_.getAs[Boolean]("false_positive")).toDouble / novel.length
    assert(fpRate < 0.35, s"FP rate $fpRate — filter saturated?")
  }

  test("simHash: equal texts hash equal; 32-bit range") {
    import spark.implicits._
    val out = DedupOps.simHash(spark, sf)
    val joined = out.as("a")
      .join(Tables.documents(spark, sf).select($"doc_id", $"text").as("d"),
        $"a.doc_id" === $"d.doc_id")
    val byText = joined.groupBy($"text")
      .agg(countDistinct($"simhash").as("n")).collect()
    byText.foreach(r => assert(r.getAs[Long]("n") === 1L))
    out.collect().foreach { r =>
      val h = r.getAs[Long]("simhash")
      assert(h >= 0L && h < (1L << 32))
    }
  }

  test("minHashLshPairsOracled: md5-family twin finds every exact-dup pair at est 1.0") {
    import spark.implicits._
    val out = DedupOps.minHashLshPairsOracled(spark, sf).collect()
    val shifted = out.filter(r => r.getAs[Long]("b") === r.getAs[Long]("a") + 100000L)
    val eligible = Tables.documents(spark, sf)
      .filter(size(graft.functions.TextFunctions.tokens($"text")) >= 3).count()
    assert(shifted.length.toLong === eligible)
    shifted.foreach(r => assert(r.getAs[Double]("est_jaccard") === 1.0))
  }

  test("md5Min through codegen: empty array is SQL NULL, not a non-null-flagged null") {
    import spark.implicits._
    val out = Seq(Tuple1(Seq.empty[String]), Tuple1(Seq("a")))
      .toDF("arr")
      .select(graft.functions.native.md5Min($"arr").as("m"))
      .collect()
    assert(out.count(_.isNullAt(0)) === 1)
    assert(out.count(!_.isNullAt(0)) === 1)
  }

  test("md5 minhash family: native expression matches an independent Scala computation") {
    import spark.implicits._
    val shingles = Seq("a b c", "b c d", "c d e")
    val got = Seq(Tuple1(shingles)).toDF("arr")
      .select(graft.functions.native.md5MinHashSig($"arr", 16).as("sig"))
      .head().getAs[scala.collection.Seq[Long]]("sig").toSeq
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val want = (0 until 16).map { p =>
      shingles.map(s => ((2L * p + 3L) * h32(s) + (7L * p + 1L)) % 2147483647L).min
    }
    assert(got === want)
  }

  test("urlStripDedup: copies collide only via the URL strip; every doc has exactly 2") {
    import spark.implicits._
    val nDocs = Tables.documents(spark, sf).count()
    val out = DedupOps.urlStripDedup(spark, sf)
    val rows = out.collect()
    // the two copies carry DIFFERENT urls, so n_copies==2 proves the strip ran
    assert(rows.length.toLong === nDocs)
    rows.foreach(r => assert(r.getAs[Long]("n_copies") === 2L))
    // sanity: withOUT the strip the raw keys differ — no group reaches 2
    val docs = Tables.documents(spark, sf)
    def copy(host: String, shift: Long) = docs.select(
      ($"doc_id" + shift).as("doc_id"), $"source".as("title"),
      concat(coalesce($"text", lit("")), lit(s" see https://$host/"), $"doc_id").as("text"))
    val unstripped = copy("a.example", 0L).unionByName(copy("b.example", 100000L))
      .groupBy(md5(concat($"title", lit("\n"), $"text")))
      .agg(count(lit(1)).as("n")).filter($"n" > 1).count()
    assert(unstripped === 0L)
  }

  test("recall property: LSH banding finds ≥90% of true near-dup pairs across Jaccard levels and seeds") {
    import spark.implicits._
    // Generated corpora sweeping the Jaccard spectrum: 40 base docs of 30
    // tokens each; the paired copy replaces e ∈ {0,1,2,4} spread-out tokens
    // (each edit kills ≤3 of ~28 3-shingles → pair Jaccard ≈ 1.0 / 0.8 /
    // 0.65 / 0.45). Ground truth = exact ngramJaccardPairs (cap disabled);
    // the property bounds the LSH candidate-generation false-negative rate
    // on the comfortably-above-threshold pairs. Deterministic per seed
    // (seedless md5 family), so this is a regression pin, not a flake.
    // 32 perms in 8 bands of 4: the 16-perm/4-band default leaves too
    // few bands for a 0.9 recall bound on 0.7-Jaccard pairs.
    for (seed <- Seq(7L, 23L)) {
      val rng = new scala.util.Random(seed)
      val docs = (0 until 40).flatMap { i =>
        val base = Vector.fill(30)(s"w${rng.nextInt(5000)}")
        val e = Seq(0, 1, 2, 4)(i % 4)
        val editPos = Seq(2, 9, 16, 23).take(e)
        val edited = editPos.foldLeft(base)((b, p) => b.updated(p, s"X${p}_$i"))
        Seq((i.toLong, base.mkString(" "), "en", "gen", 1L),
            (i + 1000L, edited.mkString(" "), "en", "gen", 1L))
      }
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-recall-$seed").toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

      val truth = DedupOps.ngramJaccardPairs(spark, tmp,
          threshold = 0.7, maxBlock = Int.MaxValue).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
      val lsh = DedupOps.minHashLshPairsOracled(spark, tmp,
          perms = 32, bands = 8, threshold = 0.5).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet

      assert(truth.nonEmpty)
      val found = truth.intersect(lsh).size.toDouble / truth.size
      assert(found >= 0.9,
        s"seed=$seed: LSH recall $found over ${truth.size} true pairs (≥0.7 Jaccard)")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("near-dup detection: a one-token edit is still caught by minhash blocking") {
    import spark.implicits._
    // 20-token doc and a copy differing in one token → jaccard ≈ 16/20 of shingles
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val edited = base.replace("tok10", "EDIT")
    val docs = Seq((1L, base, "en", "s", 1L), (2L, edited, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft-nd").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = DedupOps.minHashLshPairsOracled(spark, tmp,
        perms = 32, bands = 8, threshold = 0.3).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("setSimJoin: prefix filter is lossless against a brute-force Jaccard sweep") {
    import spark.implicits._
    val got = DedupOps.setSimJoin(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("inter"), r.getAs[Long]("union_sz"))).toSet
    graft.CacheGuard.release()
    // brute force: all pairs of shingle sets, exact Jaccard ≥ 3/5
    val sets = graft.Tables.documents(spark, sf)
      .select($"doc_id", graft.functions.TextFunctions
        .wordShingles(graft.functions.TextFunctions.tokens($"text"), 3).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty)
      .sortBy(_._1)
    val want = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      inter = (sa & sb).size.toLong
      un = (sa | sb).size.toLong
      if inter * DedupOps.setSimTauDen >= un * DedupOps.setSimTauNum
    } yield (a, b, inter, un)).toSet
    assert(got === want)
  }

  test("containmentJoin: lossless vs brute force; containment is directional") {
    import spark.implicits._
    val got = DedupOps.containmentJoin(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[Long]("inter"), r.getAs[Long]("n_src"))).toSet
    graft.CacheGuard.release()
    val sets = graft.Tables.documents(spark, sf)
      .select($"doc_id", graft.functions.TextFunctions
        .wordShingles(graft.functions.TextFunctions.tokens($"text"), 3).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty)
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      inter = (sa & sb).size.toLong
      if inter * DedupOps.containTauDen >= sa.size.toLong * DedupOps.containTauNum
    } yield (a, b, inter, sa.size.toLong)).toSet
    assert(got === want)
    // the threshold denominates by the SOURCE size: a short doc contained
    // in a long one must appear as (short → long) even when the reverse
    // direction falls below τ
    got.foreach { case (_, _, inter, nSrc) =>
      assert(inter * DedupOps.containTauDen >= nSrc * DedupOps.containTauNum)
    }
  }

  test("setSimJoin: every reported pair meets the τ threshold exactly as stated") {
    val rows = DedupOps.setSimJoin(spark, sf).collect()
    graft.CacheGuard.release()
    rows.foreach { r =>
      val inter = r.getAs[Long]("inter"); val un = r.getAs[Long]("union_sz")
      assert(inter * DedupOps.setSimTauDen >= un * DedupOps.setSimTauNum)
      assert(math.abs(r.getAs[Double]("jaccard") -
        math.round(inter.toDouble / un * 1e4) / 1e4) < 1e-9)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("dedupThresholdSweep: curve is monotone; exact copies pin the τ=1.0 row") {
    val rows = DedupOps.dedupThresholdSweep(spark, sf).collect()
    graft.CacheGuard.release()
    assert(rows.map(_.getAs[Double]("threshold")).toSeq ===
      DedupOps.sweepThresholds)
    val pairs = rows.map(_.getAs[Long]("n_pairs"))
    val docs = rows.map(_.getAs[Long]("n_docs_affected"))
    // raising τ can only shrink the removal surface
    assert(pairs.zip(pairs.tail).forall { case (a, b) => b <= a })
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a })
    // every doc has a planted exact copy → est 1.0 pairs cover everything
    val n = graft.Tables.documents(spark, sf).count()
    val at1 = rows.last
    assert(at1.getAs[Long]("n_pairs") >= n)
    assert(at1.getAs[Double]("frac_affected") === 1.0)
  }

  test("sourceOverlapMatrix: exactly the seeded cyclic pairs, with counts replaying the mirror slice") {
    val rows = DedupOps.sourceOverlapMatrix(spark, sf).collect()
    assert(rows.nonEmpty)
    // ground truth: distinct fps of the doc_id % stride slice per source
    val slice = Tables.documents(spark, sf)
      .filter(col("doc_id") % DedupOps.overlapMirrorStride === 0)
      .select(col("source"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.length).toMap
    // every emitted pair is a seeded cyclic neighbor pair (no other
    // cross-source dup exists in the driver corpus)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      val (ka, kb) = (a.drop(3).toInt, b.drop(3).toInt)
      val cyclic = (ka + 1) % 20 == kb || (kb + 1) % 20 == ka
      assert(cyclic, s"unexpected pair $a-$b")
      // the mirror donor is the cyclic PREDECESSOR in the pair
      val donor = if ((ka + 1) % 20 == kb) a else b
      assert(r.getAs[Long]("n_shared") === slice(donor).toLong, s"$a-$b")
      // jaccard bounded and consistent with the reported set sizes
      val (fa, fb, sh) = (r.getAs[Long]("fps_a"), r.getAs[Long]("fps_b"),
        r.getAs[Long]("n_shared"))
      assert(sh <= math.min(fa, fb))
      assert(r.getAs[Double]("jaccard") ===
        BigDecimal(sh.toDouble / (fa + fb - sh)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // every source with a non-empty mirror slice produces its pair
    assert(rows.length === slice.count(_._2 > 0))
  }

  test("sourceOverlapMatrix: the fp rollup is one aggregate with set state bounded by |sources| — no fp self-join, no window") {
    val plan = DedupOps.sourceOverlapMatrix(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("WindowExec"), plan.take(3000))
  }

  test("dedupPolicyReport: agrees with its three components and the precision bound tightens with τ") {
    val report = DedupOps.dedupPolicyReport(spark, sf).collect()
    graft.CacheGuard.release()
    assert(report.map(_.getAs[Double]("threshold")).toSeq ===
      DedupOps.sweepThresholds)
    // q138 cross-check: identical removal surface per τ
    val sweep = DedupOps.dedupThresholdSweep(spark, sf).collect()
      .map(r => r.getAs[Double]("threshold") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_affected"))).toMap
    graft.CacheGuard.release()
    report.foreach { r =>
      assert(sweep(r.getAs[Double]("threshold")) ===
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_affected")))
    }
    // q160 cross-check: n_both at τ=0.5 is exactly the 'both' bucket
    val both = DedupOps.detectorAgreement(spark, sf).collect()
      .find(_.getAs[String]("method") === "both").get.getAs[Long]("n_pairs")
    graft.CacheGuard.release()
    assert(report.head.getAs[Long]("n_both") === both)
    // seeded ground truth: every sig-bearing base doc's planted copy
    // survives at every τ (est exactly 1.0), so n_seeded is constant...
    val nSeeded = report.map(_.getAs[Long]("n_seeded")).distinct
    assert(nSeeded.length === 1)
    assert(nSeeded.head === Tables.documents(spark, sf).count())
    // ...and the precision lower bound can only tighten as τ rises
    val prec = report.map(_.getAs[Double]("precision_lb"))
    assert(prec.zip(prec.tail).forall { case (a, b) => b >= a })
    report.foreach { r =>
      assert(r.getAs[Long]("n_both") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("n_seeded") <= r.getAs[Long]("n_pairs"))
    }
  }

  test("setSimJoinKeepers: exactly the full exact join filtered to keeper+seed endpoints, with every intra-cluster pair gone and the seeded borderline pairs present") {
    import spark.implicits._
    val keepers = DedupOps.nearDupKeepers(spark, sf)
      .filter($"is_keeper").select($"doc_id")
      .as[Long].collect().toSet
    graft.CacheGuard.release()
    // keepers are cluster minima, so they always live in the original id
    // range (each +dupOffset copy shares a component with its original)
    assert(keepers.forall(_ < DedupOps.dupOffset))
    // full exact join over corpus ∪ seeds — the q178 convention: the
    // seeded rows are part of the audited corpus in both formulations
    val seeds = DedupOps.setSimSeeds(spark, sf)
    val seedIds = seeds.select($"doc_id").as[Long].collect().toSet
    val fullCorpus = DedupOps.dupCorpus(spark, sf)
      .select($"doc_id", $"text").unionByName(seeds)
    val full = DedupOps.setSimJoinOver(spark, fullCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.CacheGuard.release()
    val got = DedupOps.setSimJoinKeepers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.CacheGuard.release()
    // exactness preserved over the reduced corpus: the keeper join equals
    // the full O(true pairs) join restricted to keeper/seed endpoints
    val audited = (id: Long) => keepers(id) || seedIds(id)
    val expected = full.filter(p => audited(p._1) && audited(p._2))
    assert(got.toSeq === expected.toSeq)
    // and the collapse really removed pair volume (the seeded corpus has
    // intra-cluster pairs the keeper corpus cannot contain)
    assert(got.length < full.length)
    // de-vacuified gate: every doc_id % 20 == 0 base doc seeds EXACTLY
    // one accepted borderline pair with the designed exact arithmetic
    // (inter = L−2−D = 16, union = L−2+D = 26, J ≈ .6154 just over 3/5)
    val nAccept = graft.Tables.documents(spark, sf)
      .filter($"doc_id" % (2 * DedupOps.setSimSeedStride) === 0)
      .count()
    assert(nAccept > 0)
    val seedPairs = got.filter(p => seedIds(p._1) && seedIds(p._2))
    assert(seedPairs.length === nAccept)
    assert(seedPairs.forall(p => p._3 === 16L && p._4 === 26L))
    // ...and the rejected seeds (D=6, J = 15/27 just under τ) generate a
    // candidate the threshold must cut: no seed pair survives at union 27
    assert(!got.exists(p => p._4 === 27L))
  }

  test("containmentJoinKeepers: the directed audit over keepers+digests equals the full join filtered to those endpoints") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val keepers = DedupOps.nearDupKeepers(spark, sf)
      .filter($"is_keeper").select($"doc_id")
      .as[Long].collect().toSet
    graft.CacheGuard.release()
    // full directed join over the seeded corpus PLUS the digest rows, at
    // the same post-dedup τ the keeper form uses; digests seed from
    // KEEPER sources (the round-10 dedup-then-seed rule — identical at
    // the gate SFs where every base doc is its own keeper)
    val base = graft.Tables.documents(spark, sf)
      .filter($"doc_id".isin(keepers.toSeq: _*))
    val digests = base.as("x")
      .join(base.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
      .filter(col("x.doc_id") % DedupOps.digestStride === 0)
      .select((col("x.doc_id") + DedupOps.digestOffset).as("doc_id"),
        concat(col("x.text"), lit(" "), col("y.text")).as("text"))
    val digestIds = digests.select($"doc_id").as[Long].collect().toSet
    val fullCorpus = DedupOps.dupCorpus(spark, sf)
      .select($"doc_id", $"text").unionByName(digests)
    val full = DedupOps.containmentJoinOver(spark, fullCorpus,
        tauNum = DedupOps.containKeepTauNum, tauDen = DedupOps.containKeepTauDen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.CacheGuard.release()
    val got = DedupOps.containmentJoinKeepers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.CacheGuard.release()
    val audited = (id: Long) => keepers(id) || digestIds(id)
    val expected = full.filter(p => audited(p._1) && audited(p._2))
    assert(got.toSeq === expected.toSeq)
    // the seeded digests guarantee genuine partial-copy findings: every
    // source half is (near-)fully contained in its digest
    assert(got.exists(p => digestIds(p._2) && keepers(p._1)))
    // and the keeper collapse really removed the intra-cluster pair volume
    assert(got.length < full.length)
  }

  test("keeperPolicyReport: same clusters, max_quality provably dominates") {
    import spark.implicits._
    val out = DedupOps.keeperPolicyReport(spark, sf).collect()
      .map(r => r.getAs[String]("policy") -> r).toMap
    graft.CacheGuard.release()
    assert(out.keySet === Set("min_id", "max_quality", "max_degree"))
    val nc = out("min_id").getAs[Long]("n_clusters")
    assert(out.values.forall(_.getAs[Long]("n_clusters") == nc) && nc > 0)
    // electing the per-cluster quality argmax maximizes mean kept quality
    assert(out("max_quality").getAs[Long]("mean_quality_u4") >=
      out("min_id").getAs[Long]("mean_quality_u4"))
    assert(out("max_quality").getAs[Long]("mean_quality_u4") >=
      out("max_degree").getAs[Long]("mean_quality_u4"))
    // min_id replay: components from the same mapped pair graph
    val edges = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.2)
      .select(($"a" % 100000).as("x"), ($"b" % 100000).as("y"))
      .filter($"x" =!= $"y")
      .select(org.apache.spark.sql.functions.least($"x", $"y").as("a"),
        org.apache.spark.sql.functions.greatest($"x", $"y").as("b"))
      .distinct()
    val comps = Components.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    graft.CacheGuard.release()
    assert(nc === comps.map(_._2).distinct.length.toLong)
  }

  test("dedupSavings: exact side replays the fingerprint keeper rule; rates consistent") {
    import spark.implicits._
    val out = DedupOps.dedupSavings(spark, sf).collect()
      .map(r => r.getAs[String]("method") -> r).toMap
    graft.CacheGuard.release()
    assert(out.keySet === Set("exact", "near_pair_greedy"))
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val t = Option(r.getAs[String]("text")).getOrElse("")
        val fp = java.security.MessageDigest.getInstance("MD5")
          .digest(t.toLowerCase.trim.replaceAll("\\s+", " ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (r.getAs[Long]("doc_id"), fp,
          t.toLowerCase.split("\\s+").count(_.nonEmpty).toLong)
      }
    val ex = out("exact")
    assert(ex.getAs[Long]("n_docs") === docs.length.toLong)
    assert(ex.getAs[Long]("tokens_total") === docs.map(_._3).sum)
    val removed = docs.groupBy(_._2).values
      .flatMap(g => g.sortBy(_._1).drop(1)).toSeq
    assert(ex.getAs[Long]("n_removed") === removed.length.toLong)
    assert(ex.getAs[Long]("tokens_removed") === removed.map(_._3).sum)
    out.values.foreach { r =>
      assert(r.getAs[Long]("savings_bp") ===
        r.getAs[Long]("tokens_removed") * 10000L /
          r.getAs[Long]("tokens_total"))
      assert(r.getAs[Long]("n_removed") <= r.getAs[Long]("n_docs"))
    }
  }

  test("dupClusterReport: members re-sum, copies inherit source, pair clusters are single-source") {
    val sparkS = spark
    import sparkS.implicits._
    val report = DedupOps.dupClusterReport(spark, sf).collect()
    graft.CacheGuard.release()
    assert(report.nonEmpty)
    val labeled = DedupOps.nearDupKeepers(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("keeper"), r.getAs[Long]("cluster_size"))).toMap
    graft.CacheGuard.release()
    // exactly the non-trivial clusters, with exact member counts
    val expected = labeled.values.filter(_._2 > 1).groupBy(_._1)
      .map { case (k, ms) => k -> ms.size.toLong }
    assert(report.map(_.getAs[Long]("keeper")).toSet === expected.keySet)
    report.foreach { r =>
      val k = r.getAs[Long]("keeper")
      assert(k < DedupOps.dupOffset) // keepers are cluster minima
      assert(r.getAs[Long]("n_members") === expected(k))
      assert(r.getAs[Long]("n_base") >= 1L)
      assert(r.getAs[Long]("n_base") <= r.getAs[Long]("n_members"))
      assert(r.getAs[Long]("q_min_u4") <= r.getAs[Long]("q_max_u4"))
      assert(r.getAs[Long]("first_doc") === k) // min member IS the keeper
      // a pure (base, +offset copy) pair shares one source by construction
      if (r.getAs[Long]("n_members") === 2L &&
        r.getAs[Long]("last_doc") === k + DedupOps.dupOffset)
        assert(r.getAs[Long]("n_sources") === 1L)
    }
  }

  test("bandCollisionAudit: per-band totals re-sum, seeded copies guarantee collisions, pair mass replays") {
    val out = DedupOps.bandCollisionAudit(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.map(_.getAs[Int]("band")).toSeq === Seq(0, 1, 2, 3))
    val nSig = DedupOps.md5SigCorpus(spark, sf).count()
    graft.CacheGuard.release()
    out.foreach { r =>
      // every sig-bearing doc lands in exactly one slice per band
      assert(r.getAs[Long]("n_docs") === nSig)
      assert(r.getAs[Long]("n_colliding_slices") <= r.getAs[Long]("n_slices"))
      // the doubled corpus guarantees every band collides (identical
      // texts share all slices)
      assert(r.getAs[Long]("n_colliding_slices") > 0)
      assert(r.getAs[Long]("max_block") >= 2L)
      assert(r.getAs[Long]("pair_mass") >= r.getAs[Long]("n_colliding_slices"))
    }
  }

  test("quoteFlows: weighted containment replays the per-pair audit; digest flows present") {
    val sparkS = spark
    import sparkS.implicits._
    val flows = DedupOps.quoteFlows(spark, sf).collect()
    graft.CacheGuard.release()
    assert(flows.nonEmpty)
    val pairs = DedupOps.containmentJoinKeepers(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[Long]("inter"), r.getAs[Long]("n_src")))
    graft.CacheGuard.release()
    val srcOf = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def base(id: Long) =
      if (id >= DedupOps.digestOffset) id - DedupOps.digestOffset else id
    val expect = pairs.groupBy(p => (srcOf(base(p._1)), srcOf(base(p._2))))
    assert(flows.length === expect.size)
    flows.foreach { r =>
      val key = (r.getAs[String]("src_source"), r.getAs[String]("dst_source"))
      val ps = expect(key)
      assert(r.getAs[Long]("n_pairs") === ps.length.toLong)
      assert(r.getAs[Long]("n_into_digests") ===
        ps.count(_._2 >= DedupOps.digestOffset).toLong)
      val (si, sn) = (ps.map(_._3).sum, ps.map(_._4).sum)
      assert(r.getAs[Long]("sum_inter") === si)
      assert(r.getAs[Long]("w_containment_u4") === si * 10000L / sn)
    }
    // the seeded digests guarantee flows INTO digests exist
    assert(flows.map(_.getAs[Long]("n_into_digests")).sum > 0)
  }

  test("q266: b-bit estimate agrees with a driver-side parity replay and is exact on identical signatures") {
    val out = DedupOps.bbitMinhashAudit(spark, sf).collect()
    assert(out.nonEmpty)
    // same candidate-pair set as the full-signature accuracy audit
    val full = DedupOps.minhashAccuracyAudit(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(out.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet === full)
    out.foreach { r =>
      val b1 = r.getAs[Double]("est_b1")
      assert(b1 >= 0.0 && b1 <= 1.0)
      // 1-bit estimates live on the (2m-16)/16 grid, r4-quantized
      assert(math.abs((b1 * 8).round.toDouble - b1 * 8) < 1e-9)
      // an exact-duplicate pair (est_jaccard = 1 means all 16 coords
      // equal, so all parities match) must estimate 1 with zero gap
      if (r.getAs[Double]("est_jaccard") === 1.0) {
        assert(b1 === 1.0)
        assert(r.getAs[Double]("abs_gap") === 0.0)
      }
    }
    // the seeded +dupOffset copies guarantee exact pairs exist
    assert(out.exists(_.getAs[Double]("est_jaccard") === 1.0))
  }

  test("q272: the seeded-stitch flag marks exactly the designed head→tail pairs, which reassemble to the source length") {
    val sparkS = spark
    import sparkS.implicits._
    val out = DedupOps.fragmentStitch(spark, sf).collect()
    assert(out.nonEmpty)
    val o = DedupOps.stitchOverlap
    // every row's stitched length is the overlap-cut splice
    out.foreach { r =>
      assert(r.getAs[Long]("stitched_len") ===
        r.getAs[Long]("a_len") + r.getAs[Long]("b_len") - o)
    }
    // driver-side replay of the fixture: which base docs fragment
    val designed = graft.Tables.documents(spark, sf)
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("tk"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1))
      .filter { case (id, tk) =>
        id % DedupOps.stitchStride == 0 && tk.size >= 12 }
    assert(designed.nonEmpty)
    // the flag's exactness: one seeded pair per designed doc, none else
    val seeded = out.filter(_.getAs[Boolean]("seeded"))
    assert(seeded.length === designed.size)
    val byA = seeded.map(r => r.getAs[Long]("a") -> r).toMap
    designed.foreach { case (id, tk) =>
      val h = math.max(o, 3 * tk.size / 5)
      val r = byA(id + DedupOps.stitchHeadOffset)
      assert(r.getAs[Long]("b") === id + DedupOps.stitchTailOffset)
      assert(r.getAs[Long]("a_len") === h.toLong)
      assert(r.getAs[Long]("b_len") === (tk.size - h + o).toLong)
      // splicing head+tail (cutting the duplicated overlap) recovers
      // the source token count exactly — the reassembly contract
      assert(r.getAs[Long]("stitched_len") === tk.size.toLong)
    }
  }

  test("q273: cohesion arithmetic is exact, bounded by connectivity and the clique, and keepers agree with the q254 report") {
    val out = DedupOps.clusterCohesion(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("cluster_size")
      val e = r.getAs[Long]("n_edges")
      val clique = n * (n - 1) / 2
      assert(n >= 2, s"keeper ${r.getAs[Long]("keeper")}")
      assert(r.getAs[Long]("clique_edges") === clique)
      // the cluster was BUILT from these edges: connected (≥ n−1) and
      // at most one edge per unordered pair
      assert(e >= n - 1 && e <= clique,
        s"keeper ${r.getAs[Long]("keeper")}: $e edges, n=$n")
      assert(r.getAs[Long]("cohesion_u4") === e * 10000L / clique)
    }
    // the +dupOffset exact copies guarantee 2-cliques: cohesion 10000
    assert(out.exists(_.getAs[Long]("cohesion_u4") === 10000L))
    // same pair relation + same CC as the q254 membership report:
    // identical keeper set and sizes
    val report = DedupOps.dupClusterReport(spark, sf).collect()
      .map(r => r.getAs[Long]("keeper") -> r.getAs[Long]("n_members")).toMap
    assert(out.map(r => r.getAs[Long]("keeper") ->
      r.getAs[Long]("cluster_size")).toMap === report)
  }

  test("q290: B-cubed — per-element replay from the oracled keeper clusters; size-1 identities") {
    val out = DedupOps.bcubedEval(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    val labeled = DedupOps.nearDupKeepers(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("keeper"), r.getAs[Long]("cluster_size")))
    graft.CacheGuard.release()
    val byId = labeled.toMap
    val perElem = labeled.map { case (id, (k, s)) =>
      val partner = if (id < DedupOps.dupOffset) id + DedupOps.dupOffset
        else id - DedupOps.dupOffset
      val inter = 1L + (if (byId(partner)._1 == k) 1L else 0L)
      (s, inter * 1000000L / s, inter * 1000000L / 2L,
        2L * inter * 1000000L / (s + 2L))
    }
    def agg(rows: Seq[(Long, Long, Long, Long)]) = (
      rows.length.toLong,
      rows.map(_._2).sum / rows.length,
      rows.map(_._3).sum / rows.length,
      rows.map(_._4).sum / rows.length)
    val want = perElem.groupBy(_._1).map { case (s, rs) =>
      s -> agg(rs.toSeq) } + (0L -> agg(perElem.toSeq))
    assert(out.map(r => r.getAs[Long]("cluster_size") ->
      ((r.getAs[Long]("n_elements"), r.getAs[Long]("precision_u6"),
        r.getAs[Long]("recall_u6"), r.getAs[Long]("f1_u6")))).toMap
      === want)
    // identities: a singleton is pure over-split — perfect precision,
    // half recall; mirror-pair clusters (size 2 with the partner) are
    // perfect on both axes
    out.filter(_.getAs[Long]("cluster_size") === 1L).foreach { r =>
      assert(r.getAs[Long]("precision_u6") === 1000000L)
      assert(r.getAs[Long]("recall_u6") === 500000L)
    }
    assert(out.map(_.getAs[Long]("cluster_size")).distinct.length
      === out.length)
  }

  test("q293: soft-dedup weights — per-source replay; effective-docs bracket around the cluster count") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val out = DedupOps.softDedupWeights(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    val labeled = DedupOps.nearDupKeepers(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("keeper"), r.getAs[Long]("cluster_size"))).toMap
    graft.CacheGuard.release()
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", size(tokens($"text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val both = docs ++ docs.map { case (id, s, n) =>
      (id + DedupOps.dupOffset, s, n) }
    val want = both.groupBy(_._2).map { case (src, rows) =>
      val ws = rows.map { case (id, _, n) =>
        val s = labeled(id)._2
        (n, 1000000L / s, n * 1000000L / s)
      }
      src -> ((rows.length.toLong, ws.map(_._1).sum, ws.map(_._2).sum,
        ws.map(_._3).sum))
    }
    out.foreach { r =>
      val (n, raw, effD, effT) = want(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === n)
      assert(r.getAs[Long]("raw_tokens") === raw)
      assert(r.getAs[Long]("effective_docs_u6") === effD)
      assert(r.getAs[Long]("effective_tokens_u6") === effT)
      assert(r.getAs[Long]("keep_ratio_u4") ===
        effT / math.max(raw, 1L) / 100L)
    }
    // Σ effective docs brackets the cluster count: each member adds
    // floor(1e6/s), so clusters·1e6 − members < Σ ≤ clusters·1e6
    val clusters = labeled.values.map(_._1).toSeq.distinct.length.toLong
    val totalEff = out.map(_.getAs[Long]("effective_docs_u6")).sum
    val members = labeled.size.toLong
    assert(totalEff <= clusters * 1000000L)
    assert(totalEff > clusters * 1000000L - members)
    // soft dedup actually bites: effective < raw somewhere
    assert(out.exists(r => r.getAs[Long]("effective_tokens_u6") <
      r.getAs[Long]("raw_tokens") * 1000000L))
  }

  test("q294: medoid keepers — full driver replay of the within-cluster Jaccard election") {
    import spark.implicits._
    import graft.functions.TextFunctions.{tokens, wordShingles}
    val out = DedupOps.medoidKeepers(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    val labeled = DedupOps.nearDupKeepers(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper"),
        r.getAs[Long]("cluster_size")))
      .filter(t => t._3 >= 2 && t._3 <= DedupOps.medoidMaxSize)
    graft.CacheGuard.release()
    val shs = Tables.documents(spark, sf)
      .select($"doc_id",
        array_distinct(wordShingles(tokens($"text"), 3)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val setById = (shs ++ shs.map { case (id, s) =>
      (id + DedupOps.dupOffset) -> s }).toMap
    val want = labeled.groupBy(_._2).map { case (keeper, members) =>
      val ids = members.map(_._1).sorted
      val scores = ids.map { i =>
        i -> ids.filter(_ != i).map { j =>
          val (a, b) = (setById(i), setById(j))
          val inter = (a & b).size.toLong
          if (inter == 0) 0L
          else inter * 1000000L / (a.size + b.size - inter)
        }.sum
      }
      val (medoid, score) = scores.maxBy { case (id, s) => (s, -id) }
      keeper -> ((members.head._3, medoid, score, medoid != keeper))
    }
    assert(out.map(r => r.getAs[Long]("keeper") ->
      ((r.getAs[Long]("cluster_size"), r.getAs[Long]("medoid"),
        r.getAs[Long]("medoid_score_u6"),
        r.getAs[Boolean]("changed")))).toMap === want)
    // the keeper is always the min member, so a changed election means
    // the medoid is a strictly better representative than min-id
    out.filter(_.getAs[Boolean]("changed")).foreach { r =>
      assert(r.getAs[Long]("medoid") > r.getAs[Long]("keeper"))
    }
  }

  private def md532(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  test("q275: full driver-side winnowing replay — selection, boilerplate cap, pair rollup") {
    import spark.implicits._
    val out = DedupOps.winnowedMatches(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("tk"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1))
    // per-doc sketch: k-gram md5-32 hashes, window-of-w min, distinct
    val fp0 = docs.filter(_._2.size >= DedupOps.winnowK + DedupOps.winnowW - 1)
      .map { case (id, tk) =>
        val hs = tk.sliding(DedupOps.winnowK).map(_.mkString(" "))
          .map(md532).toVector
        id -> hs.sliding(DedupOps.winnowW).map(_.min).toVector.distinct
      }
    val fps = fp0 ++ fp0.map { case (id, s) => (id + DedupOps.dupOffset) -> s }
    val hCount = fps.flatMap(_._2).groupBy(identity).map { case (h, v) => h -> v.size }
    val kept = fps.map { case (id, s) =>
      id -> s.filter(h => hCount(h) <= DedupOps.winnowBlockCap) }
    val byDoc = kept.toMap
    val pairCounts = scala.collection.mutable.Map[(Long, Long), Long]()
    val docsByH = kept.flatMap { case (id, s) => s.map(h => h -> id) }
      .groupBy(_._1).map { case (h, v) => h -> v.map(_._2).sorted }
    docsByH.values.foreach { ids =>
      for (i <- ids.indices; j <- (i + 1) until ids.size)
        pairCounts((ids(i), ids(j))) =
          pairCounts.getOrElse((ids(i), ids(j)), 0L) + 1L
    }
    val want = pairCounts.filter(_._2 >= DedupOps.winnowMinShared)
      .map { case ((a, b), n) =>
        val (na, nb) = (byDoc(a).size.toLong, byDoc(b).size.toLong)
        (a, b) -> (n, na, nb, n * 10000L / math.min(na, nb))
      }
    val got = out.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
      ((r.getAs[Long]("n_shared"), r.getAs[Long]("a_fp"),
        r.getAs[Long]("b_fp"), r.getAs[Long]("containment_u4")))).toMap
    assert(got === want)
    // the designed mirrors: identical sketches → containment 10000
    val mirrors = out.filter(r =>
      r.getAs[Long]("b") === r.getAs[Long]("a") + DedupOps.dupOffset)
    assert(mirrors.nonEmpty)
    mirrors.foreach { r =>
      assert(r.getAs[Long]("containment_u4") === 10000L)
      assert(r.getAs[Long]("a_fp") === r.getAs[Long]("b_fp"))
    }
  }

  test("q276: chunk decomposition replays per doc; every edited copy re-syncs to >= n_chunks - 2 shared chunks") {
    import spark.implicits._
    val out = DedupOps.cdcChunkDedup(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("tk"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1))
      .filter(_._2.nonEmpty)
    def chunkEnds(tk: Seq[String]): Vector[Int] = {
      val b = (1 to tk.size).filter(i =>
        md532("cdc:" + tk(i - 1)) % DedupOps.cdcModulus < DedupOps.cdcThreshold)
        .toVector
      if (b.nonEmpty && b.last == tk.size) b else b :+ tk.size
    }
    val edited = docs.filter { case (id, tk) =>
      id % DedupOps.cdcStride == 0 && tk.size >= 20 }
      .map { case (id, tk) =>
        val m3 = tk.size / 3
        (id + DedupOps.cdcEditOffset) ->
          (tk.take(m3) ++ Seq("zed" + id) ++ tk.drop(m3 + 1))
      }
    assert(edited.nonEmpty)
    val all = (docs ++ edited).toMap
    // n_tokens and n_chunks replay exactly for every row
    assert(out.length === all.size)
    out.foreach { r =>
      val tk = all(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_tokens") === tk.size.toLong)
      assert(r.getAs[Long]("n_chunks") === chunkEnds(tk).size.toLong)
      assert(r.getAs[Long]("shared_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("shared_bp") ===
        r.getAs[Long]("shared_tokens") * 10000L / r.getAs[Long]("n_tokens"))
      assert(r.getAs[Boolean]("edited") ===
        (r.getAs[Long]("doc_id") >= DedupOps.cdcEditOffset))
    }
    // the CDC point: one mid-document token swap can disturb at most
    // the chunk containing the edit plus one neighbor — boundaries are
    // per-token, so everything outside re-syncs against the original
    val editRows = out.filter(_.getAs[Boolean]("edited"))
    assert(editRows.length === edited.size)
    editRows.foreach { r =>
      assert(r.getAs[Long]("shared_chunks") >= r.getAs[Long]("n_chunks") - 2,
        s"doc ${r.getAs[Long]("doc_id")}: ${r.getAs[Long]("shared_chunks")}" +
          s" of ${r.getAs[Long]("n_chunks")} chunks shared")
    }
  }

  test("q277: dial monotonicity, exact arithmetic, full completeness at the gate SF, and b=4 candidates = the q55 chain's") {
    val out = DedupOps.blockingAudit(spark, sf).collect()
    assert(out.length === 4)
    val byB = out.map(r => r.getAs[Int]("bands_used") -> r).toMap
    (1 to 4).foreach { b =>
      val r = byB(b)
      val (cand, caught) =
        (r.getAs[Long]("candidates"), r.getAs[Long]("true_caught"))
      val (ap, nd) = (r.getAs[Long]("all_pairs"), r.getAs[Long]("n_designed"))
      assert(ap === (2 * nd) * (2 * nd - 1) / 2)
      assert(r.getAs[Long]("reduction_ratio_u4") === (ap - cand) * 10000L / ap)
      assert(r.getAs[Long]("pairs_completeness_u4") === caught * 10000L / nd)
      if (b > 1) {
        assert(cand >= byB(b - 1).getAs[Long]("candidates"))
        assert(caught >= byB(b - 1).getAs[Long]("true_caught"))
        assert(r.getAs[Long]("reduction_ratio_u4") <=
          byB(b - 1).getAs[Long]("reduction_ratio_u4"))
      }
    }
    // identical signatures collide in band 0: full completeness already
    // at one band (the cap never binds at gate SFs)
    assert(byB(1).getAs[Long]("pairs_completeness_u4") === 10000L)
    // the 4-band candidate set IS the q55 chain's distinct candidates
    val chainCands = DedupOps.minHashLshPairsOracled(spark, sf,
      threshold = 0.0).count()
    assert(byB(4).getAs[Long]("candidates") === chainCands)
  }

  test("q278: analytic column replays exactly; (4,4) measures 10000 on its own candidates; degenerate splits bracket the curve") {
    val out = DedupOps.lshScurveAudit(spark, sf).collect()
    assert(out.nonEmpty)
    val totalByConfig = out.groupBy(_.getAs[Int]("b"))
      .map { case (b, rs) => b -> rs.map(_.getAs[Long]("n_pairs")).sum }
    // every config sees the same audited pair set
    assert(totalByConfig.values.toSet.size === 1)
    out.foreach { r =>
      val (b, rr, m) = (r.getAs[Int]("b"), r.getAs[Int]("r"),
        r.getAs[Long]("matches"))
      assert(m >= 8 && m <= 16)
      // repeated-multiplication replay of 1 - (1 - J^r)^b
      val j = m.toDouble / 16.0
      val jr = (1 to rr).map(_ => j).reduce(_ * _)
      val q = 1.0 - jr
      val p = 1.0 - (1 to b).map(_ => q).reduce(_ * _)
      assert(r.getAs[Long]("analytic_p_u4") ===
        math.floor(p * 1e4 + 0.5).toLong)
      assert(r.getAs[Long]("collide_frac_u4") ===
        r.getAs[Long]("collide_n") * 10000L / r.getAs[Long]("n_pairs"))
      // surfaced-by-(4,4) pairs must re-collide under (4,4)
      if (b == 4) assert(r.getAs[Long]("collide_frac_u4") === 10000L)
      // (16,1): any single coordinate agrees (m >= 8 guarantees one)
      if (b == 16) assert(r.getAs[Long]("collide_frac_u4") === 10000L)
      // (1,16): collide iff the signatures agree everywhere
      if (b == 1 && m < 16) assert(r.getAs[Long]("collide_n") === 0L)
      if (m == 16) assert(r.getAs[Long]("collide_frac_u4") === 10000L &&
        r.getAs[Long]("analytic_p_u4") === 10000L)
    }
  }

  test("q300: weighted Jaccard — exact multiset replay per candidate pair; dup twins at 1.0") {
    import spark.implicits._
    val out = DedupOps.weightedJaccardRescore(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    // driver replay over the doubled corpus
    val tf = DedupOps.dupCorpus(spark, sf)
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("tk"))
      .collect() // collect-ok: gate-SF spec replay
      .map(r => r.getLong(0) ->
        r.getSeq[String](1).groupBy(identity).view.mapValues(_.length.toLong).toMap)
      .toMap
    out.foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      val (ta, tb) = (tf(a), tf(b))
      val shared = ta.keySet.intersect(tb.keySet)
      val sMin = shared.toSeq.map(w => math.min(ta(w), tb(w))).sum
      val (totA, totB) = (ta.values.sum, tb.values.sum)
      assert(r.getAs[Long]("n_shared_types") === shared.size.toLong)
      assert(r.getAs[Long]("s_min") === sMin)
      assert(r.getAs[Long]("tot_a") === totA)
      assert(r.getAs[Long]("tot_b") === totB)
      val wj = sMin * 1000000L / math.max(totA + totB - sMin, 1L)
      assert(r.getAs[Long]("w_jaccard_u6") === wj)
      assert(r.getAs[Long]("gap_u6") ===
        math.floor(r.getAs[Double]("est_jaccard") * 1e6 + 0.5).toLong - wj)
    }
    // every exact-dup twin pair (b = a + dupOffset) is weighted-identical
    val twins = out.filter(r =>
      r.getAs[Long]("b") === r.getAs[Long]("a") + DedupOps.dupOffset)
    assert(twins.nonEmpty)
    twins.foreach(r => assert(r.getAs[Long]("w_jaccard_u6") === 1000000L))
    // and the multiset view genuinely diverges from the set estimate
    assert(out.exists(_.getAs[Long]("gap_u6") != 0L))
  }
}
