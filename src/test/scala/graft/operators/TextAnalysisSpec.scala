package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("langId: one prediction per doc from the closed label set") {
    val out = TextAnalysis.langId(spark, sf).collect()
    assert(out.length.toLong === Tables.documents(spark, sf).count())
    val labels = Set("unknown", "en_like", "tech_like", "data_like")
    out.foreach(r => assert(labels.contains(r.getAs[String]("predicted"))))
  }

  test("qualityScore: score bounded [0,1]; zero tokens → zero score") {
    val out = TextAnalysis.qualityScore(spark, sf).collect()
    out.foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0)
      if (r.getAs[Long]("n_tokens") === 0L) assert(q === 0.0)
      assert(r.getAs[Long]("n_stop") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("tokenCounts: bpe-ish tokenization is at least as fine as whitespace") {
    val out = TextAnalysis.tokenCounts(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("bpe_ish_tokens") >= r.getAs[Long]("ws_tokens"))
    }
  }

  test("termFrequency: top-k sorted by freq desc then token; freq sums ≤ token total") {
    import spark.implicits._
    val out = TextAnalysis.termFrequency(spark, sf, k = 20).collect()
    assert(out.length === 20)
    val freqs = out.map(_.getAs[Long]("freq")).toSeq
    assert(freqs === freqs.sortBy(-_))
    val totalToks = Tables.documents(spark, sf)
      .select(sum(size(graft.functions.TextFunctions.tokens($"text"))))
      .head().getLong(0)
    assert(freqs.sum <= totalToks)
  }

  test("fingerprints: fp stable across runs and distinct for distinct texts") {
    import spark.implicits._
    val a = TextAnalysis.fingerprints(spark, sf).select("doc_id", "fp")
      .as[(Long, String)].collect().toMap
    val b = TextAnalysis.fingerprints(spark, sf).select("doc_id", "fp")
      .as[(Long, String)].collect().toMap
    assert(a === b)
    val nTexts = Tables.documents(spark, sf)
      .select(lower(trim($"text"))).distinct().count()
    assert(a.values.toSet.size.toLong === nTexts)
  }

  test("piiRedact: every planted PII kind is counted and redacted from the clean text") {
    import spark.implicits._
    val out = TextAnalysis.piiRedact(spark, sf).collect()
    assert(out.length.toLong === Tables.documents(spark, sf).count())
    out.foreach { r =>
      // the deterministic tail plants exactly one of each kind; the word-salad
      // corpus itself contains none
      assert(r.getAs[Long]("n_emails") === 1L)
      assert(r.getAs[Long]("n_urls") === 1L)
      assert(r.getAs[Long]("n_ips") === 1L)
      assert(r.getAs[Long]("n_phones") === 1L)
    }
    // redaction really removed the raw PII: rebuild one clean text and check
    val doc0 = Tables.documents(spark, sf).filter($"doc_id" === 0)
      .select(coalesce($"text", lit(""))).head().getString(0)
    val clean0 = Seq(Tuple1(doc0 +
      " Contact user0@example.com or +49 170 1000000 at 10.0.0.0 via https://tracker.example/visit?id=0"))
      .toDF("raw")
      .select(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace($"raw", TextAnalysis.piiEmail, "<EMAIL>"),
              TextAnalysis.piiUrl, "<URL>"),
            TextAnalysis.piiIp, "<IP>"),
          TextAnalysis.piiPhone, "<PHONE>"))
      .head().getString(0)
    assert(clean0.contains("<EMAIL>") && clean0.contains("<URL>") &&
      clean0.contains("<IP>") && clean0.contains("<PHONE>"))
    assert(!clean0.contains("@example.com") && !clean0.contains("https://"))
    val got0 = out.find(_.getAs[Long]("doc_id") == 0L).get
    assert(got0.getAs[Long]("clean_len") === clean0.length.toLong)
  }

  test("gopherQuality: ratios bounded; thresholds produce a genuine pass/fail mix") {
    val out = TextAnalysis.gopherQuality(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Double]("dup_ratio") >= 0.0 && r.getAs[Double]("dup_ratio") < 1.0)
      assert(r.getAs[Double]("mean_word_len") > 0.0)
      assert(r.getAs[Long]("n_words") > 0L)
    }
    val passes = out.count(_.getAs[Boolean]("passes"))
    assert(passes > 0 && passes < out.length,
      s"gate is a constant column ($passes/${out.length}) — thresholds need retuning")
  }

  test("unicode kernels: NFC composes decomposed sequences; accent folding drops marks only") {
    import spark.implicits._
    // "é" as e + COMBINING ACUTE (2 code points) must NFC-compose to 1
    val decomposed = "Caf\u0065\u0301"
    val row = Seq(Tuple1(decomposed)).toDF("s")
      .select(
        length(graft.functions.native.nfcNormalize($"s")).as("nfc_len"),
        graft.functions.native.stripAccents($"s").as("folded"))
      .head()
    assert(row.getAs[Int]("nfc_len") === 4) // C-a-f-é
    assert(row.getAs[String]("folded") === "Cafe")
    // ligatures/sharp-s are NOT accents and stay (DuckDB strip_accents parity)
    val keep = Seq(Tuple1("\ufb01\u00df")).toDF("s")
      .select(graft.functions.native.stripAccents($"s")).head().getString(0)
    assert(keep === "\ufb01\u00df")
    // measured DuckDB parity beyond Latin: Devanagari KA + II (an Mc
    // spacing mark) loses the vowel sign; Hangul syllables survive via
    // the post-strip NFC recompose (NFD alone would leave bare Jamo)
    val wide = Seq(Tuple1("\u0915\u0940 \ud55c")).toDF("s")
      .select(graft.functions.native.stripAccents($"s")).head().getString(0)
    assert(wide === "\u0915 \ud55c")
  }

  test("unicodeClean: folded text is never longer than NFC text; deterministic") {
    val out = TextAnalysis.unicodeClean(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("folded_len") <= r.getAs[Long]("nfc_len"))
    }
    val again = TextAnalysis.unicodeClean(spark, sf).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("unigramLogProb: negative scores; rare tokens lower the mean; token counts exact") {
    import spark.implicits._
    val out = TextAnalysis.unigramLogProb(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("mean_logprob") < 0.0) // probabilities < 1
      assert(r.getAs[Long]("n_tokens") > 0L)
    }
    // fixture: the doc carrying the corpus's single rare token must score
    // strictly below an all-common-token doc of the same length
    val tmp = java.nio.file.Files.createTempDirectory("graft-ulp").toString
    Seq((0L, "common common common"), (1L, "common common rareword"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val f = TextAnalysis.unigramLogProb(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_logprob")).toMap
    assert(f(1L) < f(0L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("bpePairStats: counts match a hand computation on a tiny corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    // "abab ab cd" → pairs: ab,ba,ab (from abab), ab, cd
    Seq((0L, "abab ab cd", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.bpePairStats(spark, tmp).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n")).toMap
    assert(out === Map("ab" -> 3L, "ba" -> 1L, "cd" -> 1L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("bpePairStats: top-20 on the corpus, descending with pair tie-break") {
    val out = TextAnalysis.bpePairStats(spark, sf).collect()
    assert(out.length === 20)
    val pairs = out.map(r => (r.getAs[Long]("n"), r.getAs[String]("pair")))
    pairs.sliding(2).foreach { case Array((n1, p1), (n2, p2)) =>
      assert(n1 > n2 || (n1 === n2 && p1 < p2))
    }
    out.foreach(r => assert(r.getAs[String]("pair").length === 2))
  }

  test("topQualityPerSource: bounded-aggregate form agrees with the window form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val got = TextAnalysis.topQualityPerSource(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("quality")))
    val w = Window.partitionBy($"source").orderBy($"quality".desc, $"doc_id")
    val scored = TextAnalysis.qualityScore(spark, sf)
      .join(graft.Tables.documents(spark, sf).select($"doc_id", $"source"), "doc_id")
    val want = scored
      .select($"source", row_number().over(w).cast("long").as("rank"),
        $"doc_id", $"quality")
      .filter($"rank" <= 3)
      .orderBy($"source", $"rank").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("quality")))
    assert(got.toSeq === want.toSeq)
  }

  test("topQualityPerSource: partial aggregation runs before the exchange") {
    val plan = TextAnalysis.topQualityPerSource(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(!plan.toLowerCase.contains("window"))
  }

  test("bigramLogProb: every scored doc has n_tokens-1 bigrams and a negative mean") {
    import spark.implicits._
    val got = TextAnalysis.bigramLogProb(spark, sf).collect()
    graft.CacheGuard.release()
    assert(got.nonEmpty)
    val nTok = graft.Tables.documents(spark, sf)
      .select($"doc_id", size(graft.functions.TextFunctions.tokens($"text"))
        .cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_bigrams") === nTok(id) - 1)
      // probabilities are < 1, so every mean log-probability is negative
      assert(r.getAs[Double]("mean_logprob") < 0.0)
    }
    // docs with <2 tokens cannot be scored and must be absent, not zeroed
    val short = nTok.filter(_._2 < 2).keySet
    assert(got.forall(r => !short(r.getAs[Long]("doc_id"))))
  }

  test("bigramLogProb: interpolation keeps scores at or above the pure-unigram floor scaled by 1-λ") {
    // λ·P(w2|w1) + (1-λ)·P(w2) ≥ (1-λ)·P(w2): each bigram's interpolated
    // probability is bounded below by the scaled unigram term, so the
    // bigram mean can undercut the unigram mean by at most ln(1-λ)
    val bi = TextAnalysis.bigramLogProb(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_logprob")).toMap
    graft.CacheGuard.release()
    val uniRows = TextAnalysis.unigramLogProb(spark, sf).collect()
    val floorGap = math.log(1.0 - TextAnalysis.bigramLambda) - 0.01
    uniRows.filter(r => bi.contains(r.getAs[Long]("doc_id"))).foreach { r =>
      val u = r.getAs[Double]("mean_logprob")
      val b = bi(r.getAs[Long]("doc_id"))
      // not a tight bound (bigram drops the doc's FIRST token from its
      // unigram average) — allow slack for that one-token shift
      assert(b > u + floorGap - 1.0,
        s"doc ${r.getAs[Long]("doc_id")}: bigram $b vs unigram $u")
    }
  }

  test("pmiTopPairs: PMI recomputes from the reported counts; no pair below support") {
    val got = TextAnalysis.pmiTopPairs(spark, sf).collect()
    graft.CacheGuard.release()
    assert(got.nonEmpty && got.length <= 20)
    val n = graft.Tables.documents(spark, sf).count().toDouble
    got.foreach { r =>
      val pmi = math.log(
        r.getAs[Long]("n_ab").toDouble * n /
          (r.getAs[Long]("df_a").toDouble * r.getAs[Long]("df_b")))
      assert(math.abs(pmi - r.getAs[Double]("pmi")) < 1e-3)
      assert(r.getAs[Long]("n_ab") >= TextAnalysis.pmiMinSupport)
      // pairs come from a sorted set, so (a, b) is canonical
      assert(r.getAs[String]("a") < r.getAs[String]("b"))
    }
    // descending by pmi (ties broken by pair, both deterministic)
    val ps = got.map(_.getAs[Double]("pmi"))
    assert(ps.sameElements(ps.sortBy(-_)))
  }

  test("bpeTrainMerges: round 1 agrees with bpePairStats; counts non-increasing; vocab grows") {
    val rounds = TextAnalysis.bpeTrainMerges(spark, sf).collect()
    graft.CacheGuard.release()
    assert(rounds.length === TextAnalysis.bpeTrainRounds)
    // round 1's learned merge IS the corpus's top adjacent pair
    val top = TextAnalysis.bpePairStats(spark, sf, topN = 1).collect().head
    val r1 = rounds.find(_.getAs[Long]("round") == 1L).get
    assert(r1.getAs[String]("sym_a") + r1.getAs[String]("sym_b") ===
      top.getAs[String]("pair"))
    assert(r1.getAs[Long]("pair_count") === top.getAs[Long]("n"))
    // merging the top pair can only shrink existing pair counts, and any
    // NEW pair (x, ab) is bounded by ab's count — so round-over-round top
    // counts never increase
    val cnts = rounds.sortBy(_.getAs[Long]("round")).map(_.getAs[Long]("pair_count"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    // each merge introduces a genuinely new symbol
    val vocabs = rounds.sortBy(_.getAs[Long]("round")).map(_.getAs[Long]("vocab_after"))
    assert(vocabs.zip(vocabs.tail).forall { case (a, b) => b >= a })
  }

  test("pmiTopPairs: per-row fan-out — no per-doc self-join in the plan") {
    val plan = TextAnalysis.pmiTopPairs(spark, sf)
      .queryExecution.executedPlan.toString
    graft.CacheGuard.release()
    // pair generation is Generate (explode of the per-row combination
    // array); the only joins are the two O(vocab) dimension joins and the
    // broadcast count — never a doc_id-keyed self-join of the token table
    assert(plan.contains("Generate"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("repetitionRatios: fractions recompute from the raw text per row") {
    val rows = TextAnalysis.repetitionRatios(spark, sf).collect()
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length === texts.size)
    rows.take(50).foreach { r =>
      val tk = texts(r.getAs[Long]("doc_id")).toLowerCase
        .split("\\s+").filter(_.nonEmpty)
      def dupFrac(n: Int): Double = {
        val g = tk.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        if (g.isEmpty) 0.0
        else BigDecimal((g.size - g.distinct.size).toDouble / g.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      assert(r.getAs[Long]("n_tokens") === tk.length)
      assert(r.getAs[Double]("dup_bigram_frac") === dupFrac(2))
      assert(r.getAs[Double]("dup_trigram_frac") === dupFrac(3))
      val topFrac =
        if (tk.isEmpty) 0.0
        else BigDecimal(tk.groupBy(identity).values.map(_.size).max.toDouble /
          tk.length).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("top_token_frac") === topFrac)
      assert(r.getAs[Boolean]("flagged") ===
        (r.getAs[Double]("dup_bigram_frac") > TextAnalysis.dupBigramMax ||
          r.getAs[Double]("top_token_frac") > TextAnalysis.topTokenMax))
    }
    // word-salad corpus: both flag branches should be exercised somewhere
    assert(rows.exists(_.getAs[Boolean]("flagged")))
    assert(rows.exists(!_.getAs[Boolean]("flagged")))
  }

  test("repetitionRatios: per-row pass — no joins or hash aggregates in the plan") {
    val plan = TextAnalysis.repetitionRatios(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(1500))
    assert(!plan.contains("HashAggregate"), plan.take(1500))
  }

  test("bpeEncode: token counts replay the trained merges word by word") {
    val merges = TextAnalysis.bpeTrainMerges(spark, sf).collect()
      .sortBy(_.getAs[Long]("round"))
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b")))
    graft.CacheGuard.release()
    def encode(w: String): Int = {
      var s = " " + w.toCharArray.map(_ + " ").mkString
      merges.foreach { case (a, b) =>
        s = s.replace(s" $a $b ", s" $a$b ")
      }
      s.trim.split(" ").length
    }
    val rows = TextAnalysis.bpeEncode(spark, sf).collect()
    graft.CacheGuard.release()
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.take(30).foreach { r =>
      val words = texts(r.getAs[Long]("doc_id")).toLowerCase
        .split("\\s+").filter(_.nonEmpty)
      assert(r.getAs[Long]("n_words") === words.length)
      assert(r.getAs[Long]("n_chars") === words.map(_.length).sum)
      assert(r.getAs[Long]("n_bpe_tokens") === words.map(encode).sum)
    }
    // merges fired somewhere: the corpus must compress below char level
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bpe_tokens") <= r.getAs[Long]("n_chars"))
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Double]("chars_per_token") >= 1.0)
    }
    assert(rows.map(_.getAs[Long]("n_bpe_tokens")).sum <
      rows.map(_.getAs[Long]("n_chars")).sum)
  }

  test("bpeDecodeAudit: decode(encode(w)) = w over the whole vocabulary") {
    import spark.implicits._
    val rows = TextAnalysis.bpeDecodeAudit(spark, sf).collect()
    graft.CacheGuard.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("round_trip"), r.getAs[String]("w"))
      assert(r.getAs[String]("decoded") === r.getAs[String]("w"))
      // symbol count bounded by chars (merges only shrink) and ≥ 1
      assert(r.getAs[Long]("n_bpe") >= 1L)
      assert(r.getAs[Long]("n_bpe") <= r.getAs[Long]("n_chars"))
    }
    // merges fired: somewhere the vocabulary compresses below char level
    assert(rows.exists(r => r.getAs[Long]("n_bpe") < r.getAs[Long]("n_chars")))
    // the audit covers every corpus word type, exactly once each
    val nTypes = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("w"))
      .distinct().count()
    assert(rows.length.toLong === nTypes)
    assert(rows.map(_.getAs[String]("w")).distinct.length === rows.length)
  }

  test("bpeDecodeAudit/bpeEncode consistency: type-level n_bpe re-sums to q137 per-doc totals") {
    import spark.implicits._
    val perType = TextAnalysis.bpeDecodeAudit(spark, sf)
      .select($"w", $"n_bpe")
    val resummed = Tables.documents(spark, sf)
      .select($"doc_id", explode(graft.functions.TextFunctions.tokens($"text")).as("w"))
      .join(perType, "w")
      .groupBy($"doc_id").agg(sum($"n_bpe").as("n_bpe_tokens"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_tokens")).toMap
    graft.CacheGuard.release()
    val q137 = TextAnalysis.bpeEncode(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_tokens")).toMap
    graft.CacheGuard.release()
    assert(q137 === resummed)
  }

  test("ccnetBuckets: terciles partition each language; buckets are score-ordered") {
    import spark.implicits._
    val rows = TextAnalysis.ccnetBuckets(spark, sf).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    val perLang = Tables.documents(spark, sf)
      .filter(size(graft.functions.TextFunctions.tokens($"text")) > 0)
      .groupBy($"lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    byLang.foreach { case (lang, bs) =>
      val m = bs.map(r => r.getAs[String]("bucket") -> r).toMap
      assert(m.keySet === Set("head", "middle", "tail"), lang)
      val n = perLang(lang)
      // exact integer tercile sizes: floor(n/3) / floor(2n/3)-floor(n/3) / rest
      assert(m("head").getAs[Long]("n_docs") === n / 3)
      assert(m("middle").getAs[Long]("n_docs") === 2 * n / 3 - n / 3)
      assert(m("tail").getAs[Long]("n_docs") === n - 2 * n / 3)
      // the ranking is by score desc: bucket ranges never interleave
      assert(m("head").getAs[Double]("min_logprob") >=
        m("middle").getAs[Double]("max_logprob"), lang)
      assert(m("middle").getAs[Double]("min_logprob") >=
        m("tail").getAs[Double]("max_logprob"), lang)
      bs.foreach { r =>
        assert(r.getAs[Double]("mean_bucket_logprob") <=
          r.getAs[Double]("max_logprob") + 1e-4)
        assert(r.getAs[Double]("mean_bucket_logprob") >=
          r.getAs[Double]("min_logprob") - 1e-4)
      }
    }
  }

  test("qualityPrCurve: confusion cells partition the corpus; metrics replay the counts") {
    val rows = TextAnalysis.qualityPrCurve(spark, sf).collect()
    assert(rows.map(_.getAs[Double]("threshold")).toSeq ===
      TextAnalysis.prThresholds)
    val nDocs = Tables.documents(spark, sf).count()
    val nPass = TextAnalysis.gopherQuality(spark, sf)
      .filter(org.apache.spark.sql.functions.col("passes")).count()
    rows.foreach { r =>
      val (tp, fp, fn, tn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
        r.getAs[Long]("fn"), r.getAs[Long]("tn"))
      assert(tp + fp + fn + tn === nDocs)
      assert(tp + fn === nPass) // the label side never moves with the threshold
      def d4(x: Double) =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (tp + fp > 0)
        assert(r.getAs[Double]("precision") === d4(tp.toDouble / (tp + fp)))
      assert(r.getAs[Double]("recall") === d4(tp.toDouble / (tp + fn)))
      if (2 * tp + fp + fn > 0)
        assert(r.getAs[Double]("f1") ===
          d4(2.0 * tp / (2.0 * tp + fp + fn)))
      val k = r.getAs[Double]("kappa")
      assert(k >= -1.0 && k <= 1.0)
    }
    // raising the threshold can only shrink the predicted-positive set
    val byT = rows.sortBy(_.getAs[Double]("threshold"))
    byT.zip(byT.tail).foreach { case (a, b) =>
      assert(a.getAs[Long]("tp") >= b.getAs[Long]("tp"))
      assert(a.getAs[Double]("recall") >= b.getAs[Double]("recall"))
    }
    // the tuned thresholds populate every cell somewhere on the curve
    assert(rows.exists(r => r.getAs[Long]("tp") > 0))
    assert(rows.exists(r => r.getAs[Long]("fn") > 0))
  }

  test("filterPipeline: reasons replay the individual rule signals in fixed order") {
    val reasons = TextAnalysis.filterPipeline(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(reasons.size.toLong === Tables.documents(spark, sf).count())
    val gopher = TextAnalysis.gopherQuality(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Double]("mean_word_len"))).toMap
    val rep = TextAnalysis.repetitionRatios(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("dup_bigram_frac"), r.getAs[Double]("top_token_frac"))).toMap
    val qual = TextAnalysis.qualityScore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    reasons.foreach { case (id, reason) =>
      val (nWords, mwl) = gopher(id)
      val (dupBg, topTok) = rep(id)
      val expected =
        if (nWords < TextAnalysis.gopherMinWords) "too_short"
        else if (dupBg > TextAnalysis.dupBigramMax ||
          topTok > TextAnalysis.topTokenMax) "repetitive"
        else if (mwl < TextAnalysis.gopherMeanLen._1 ||
          mwl > TextAnalysis.gopherMeanLen._2) "word_shape"
        else if (qual(id) < TextAnalysis.filterQualityFloor) "low_quality"
        else "keep"
      assert(reason === expected, s"doc $id")
    }
    // the gate does real work on this corpus: keeps some, rejects for
    // several distinct reasons
    val hist = reasons.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(hist.getOrElse("keep", 0) > 0)
    assert((hist.keySet - "keep").size >= 3)
  }

  test("urlHostStats: every document lands in exactly one host bucket") {
    val rows = TextAnalysis.urlHostStats(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[String]("host").matches("src\\d+\\d\\.example\\.com"),
        r.getAs[String]("host"))
      // path is always /<lang>/doc-<id>.html → depth 2
      assert(r.getAs[Long]("max_depth") === 2L)
      assert(r.getAs[Long]("n_langs") >= 1L && r.getAs[Long]("n_langs") <= 5L)
      assert(r.getAs[Double]("avg_chars") > 0.0)
    }
  }

  test("sourceQualityFloor: threshold is the discrete p25 of the per-source score; keep/drop mass replays") {
    val rows = TextAnalysis.sourceQualityFloor(spark, sf).collect()
    assert(rows.nonEmpty)
    // driver-side replay: per-source score units from q26's own output
    val units = TextAnalysis.qualityScore(spark, sf)
      .join(Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .select(col("source"),
        floor(col("quality") * 1e4 + lit(0.5)).cast("long").as("u"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(rows.length === units.size)
    rows.foreach { r =>
      val us = units(r.getAs[String]("source"))
      val n = us.length
      // smallest grid value whose cumulative count reaches ceil(pct·n/100)
      val need = (n * TextAnalysis.floorQuantilePct + 99) / 100
      val thr = us(need - 1) // sorted: the need-th smallest IS that value
      assert(r.getAs[Long]("n_docs") === n.toLong)
      assert(r.getAs[Long]("thr_u4") === thr, r.getAs[String]("source"))
      val kept = us.count(_ >= thr).toLong
      assert(r.getAs[Long]("n_kept") === kept)
      assert(r.getAs[Long]("n_dropped") === n - kept)
      // the floor keeps at least (100-pct)% of every source
      assert(kept * 100L >= (100L - TextAnalysis.floorQuantilePct) * n)
    }
  }

  test("sourceQualityFloor: windows run over the value-frequency table, never the corpus — every window input is pre-aggregated") {
    val plan = TextAnalysis.sourceQualityFloor(spark, sf)
      .queryExecution.executedPlan.toString
    // the corpus-sized relation reaches only HashAggregate (the freq
    // build); each Window sits ABOVE that aggregate in the plan, so its
    // input is O(sources × distinct grid values)
    assert(plan.contains("Window"), plan.take(2000))
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(aggIdx >= 0)
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("langConfusion: cells partition the corpus and replay q25's per-doc predictions") {
    val cells = TextAnalysis.langConfusion(spark, sf).collect()
    val perDoc = TextAnalysis.langId(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val expected = perDoc.groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    assert(cells.length === expected.size)
    cells.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getLong(2) === expected(key))
    }
    // cell mass partitions the corpus; per-lang shares sum to 1 within
    // quantization (each share is floor-rounded to 4dp)
    assert(cells.map(_.getLong(2)).sum === perDoc.length.toLong)
    cells.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val tot = rows.head.getLong(3)
      assert(rows.map(_.getLong(2)).sum === tot)
      val shareSum = rows.map(_.getDouble(4)).sum
      assert(math.abs(shareSum - 1.0) <= rows.length * 1e-4)
    }
  }

  test("charEntropy: entropy replays a driver-side histogram computation on every row") {
    val out = TextAnalysis.charEntropy(spark, sf).collect()
    assert(out.nonEmpty)
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    def r8(x: Double) = BigDecimal(x)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach { r =>
      val t = texts(r.getLong(0)).toLowerCase
      val n = t.length
      assert(r.getLong(1) === n.toLong)
      val counts = TextAnalysis.entropyAlphabet
        .map(ch => t.count(_ == ch.head).toLong)
      val other = n - counts.sum
      assert(r.getLong(2) === other)
      def term(c: Long) =
        if (c > 0) c.toDouble * r8(math.log(c.toDouble) / math.log(2.0))
        else 0.0
      val s = (counts.map(term) :+ term(other)).reduceLeft(_ + _)
      val expected = if (n == 0) 0.0
        else math.floor((r8(math.log(n.toDouble) / math.log(2.0)) - s / n)
          * 1e4 + 0.5) / 1e4
      assert(r.getDouble(3) === expected, s"doc ${r.getLong(0)}")
      assert(r.getBoolean(5) === (r.getDouble(3) < 4.0))
      // entropy of a 37+1-bucket distribution is bounded by log2(38)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 5.25)
    }
  }

  test("charEntropy: pure per-row pass — no exchange except the output order") {
    val plan = TextAnalysis.charEntropy(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan.take(2000))
  }

  test("preferencePairs: chosen/rejected are the per-source quality argmax/argmin with the documented tie-breaks") {
    val pairs = TextAnalysis.preferencePairs(spark, sf).collect()
    assert(pairs.nonEmpty)
    // recompute the scored corpus once and group on the driver
    val scored = TextAnalysis.qualityScore(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("source"), col("doc_id"), col("quality")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    pairs.foreach { r =>
      val g = scored(r.getString(0))
      val chosen = g.minBy(t => (-t._3, t._2)) // quality DESC, doc_id ASC
      val rejected = g.minBy(t => (t._3, t._2)) // quality ASC, doc_id ASC
      assert(r.getAs[Long]("chosen_id") === chosen._2)
      assert(r.getAs[Long]("rejected_id") === rejected._2)
      assert(r.getAs[Double]("chosen_quality") === chosen._3)
      assert(r.getAs[Double]("rejected_quality") === rejected._3)
      assert(r.getAs[Double]("margin") > 0.0)
    }
    // exactly the sources whose extremes differ produce a pair
    val expectSources = scored.filter { case (_, g) =>
      g.map(_._3).max > g.map(_._3).min }.keySet
    assert(pairs.map(_.getString(0)).toSet === expectSources)
  }

  test("preferencePairs: plan is a single hash aggregate — no Window over the corpus") {
    val plan = TextAnalysis.preferencePairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      plan.take(2000))
  }

  test("urlCanonicalize: canonicalization replayed driver-side, blocks collapse, noise-only variants") {
    val out = TextAnalysis.urlCanonicalize(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    // every full 5-block collapses to ONE canonical url
    assert(out.length === ((nDocs + 4) / 5).toInt)
    assert(out.map(_.getAs[Long]("n_raw")).sum === nDocs)
    // driver replay of construction + canonicalization for each block
    out.foreach { r =>
      val keeper = r.getAs[Long]("keeper_doc")
      val block = keeper / 5
      assert(keeper === block * 5) // keeper is the block's min doc id
      val expected = s"https://site${block % 13}.example.com" +
        s"/posts/doc-$block.html?p=${block % 3}&s=${block % 4}"
      assert(r.getAs[String]("canonical_url") === expected)
      if ((block + 1) * 5 <= nDocs) assert(r.getAs[Long]("n_raw") === 5L)
      // spellings can coincide when two same-parity docs share all the
      // mod-3/mod-4 noise bits, but never exceed the raw count
      assert(r.getAs[Long]("n_spellings") >= 1L)
      assert(r.getAs[Long]("n_spellings") <= r.getAs[Long]("n_raw"))
    }
    // the noise is real: most blocks carry >1 raw spelling
    assert(out.count(_.getAs[Long]("n_spellings") > 1L) > out.length / 2)
  }

  test("sourceExemplars: window replay per source, no Window in the plan") {
    import spark.implicits._
    val out = TextAnalysis.sourceExemplars(spark, sf).collect()
    assert(out.nonEmpty)
    // replay: per source, rank docs by (q desc, doc_id asc), take 3
    val docs = graft.Tables.documents(spark, sf)
      .select($"source", $"doc_id", $"text").collect().map { r =>
        val toks = Option(r.getAs[String]("text")).getOrElse("")
          .toLowerCase.split("\\s+").filter(_.nonEmpty)
        val stop = toks.count(Set("the", "a", "of", "and", "to", "in"))
        val q = if (toks.isEmpty) 0.0
          else math.min(1.0, toks.length / 100.0) * 0.6 +
            stop.toDouble / math.max(toks.length, 1) * 0.4
        (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
          math.floor(q * 1e4 + 0.5).toLong)
      }
    val want = docs.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
      rs.sortBy { case (_, id, u) => (-u, id) }.take(3).zipWithIndex
        .map { case ((_, id, u), i) => (src, i + 1L, id, u) }.toSeq
    }.toSet
    assert(out.map(r => (r.getAs[String]("source"), r.getAs[Long]("rank"),
      r.getAs[Long]("doc_id"), r.getAs[Long]("q_u4"))).toSet === want)
    val plan = TextAnalysis.sourceExemplars(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("RunningWindow"),
      plan.take(2000))
  }

  test("quantileNormalize: percent-rank replay per source, calibration envelope") {
    import spark.implicits._
    val out = TextAnalysis.quantileNormalize(spark, sf).collect()
    assert(out.length === graft.Tables.documents(spark, sf).count().toInt)
    graft.CacheGuard.release()
    val docs = graft.Tables.documents(spark, sf)
      .select($"source", $"doc_id", $"text").collect().map { r =>
        val toks = Option(r.getAs[String]("text")).getOrElse("")
          .toLowerCase.split("\\s+").filter(_.nonEmpty)
        val stop = toks.count(Set("the", "a", "of", "and", "to", "in"))
        val q = if (toks.isEmpty) 0.0
          else math.min(1.0, toks.length / 100.0) * 0.6 +
            stop.toDouble / math.max(toks.length, 1) * 0.4
        (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
          math.floor(q * 1e4 + 0.5).toLong)
      }
    val bySrc = docs.groupBy(_._1)
    out.foreach { r =>
      val src = r.getAs[String]("source")
      val u = r.getAs[Long]("q_u4")
      val grp = bySrc(src)
      val below = grp.count(_._3 < u).toLong
      val n = grp.length.toLong
      assert(r.getAs[Long]("n_source") === n)
      assert(r.getAs[Long]("prank_bp") ===
        below * 10000 / math.max(n - 1, 1), s"doc ${r.getAs[Long]("doc_id")}")
    }
    // calibration: every source's minimum-score docs sit at rank 0 and
    // ranks stay inside [0, 10000]
    out.foreach(r => assert(r.getAs[Long]("prank_bp") >= 0 &&
      r.getAs[Long]("prank_bp") <= 10000))
    bySrc.keys.foreach { src =>
      val ranks = out.filter(_.getAs[String]("source") == src)
        .map(_.getAs[Long]("prank_bp"))
      assert(ranks.min === 0L, src)
    }
  }

  test("canonicalUrl: unit cases — fragment, case, tracking params, param order, trailing slash") {
    import spark.implicits._
    val raw = Seq(
      "https://A.B.com/x/y.html/?utm_source=a&b=2&a=1#frag",
      "https://a.b.com/x/y.html?a=1&fbclid=zz&b=2",
      "https://a.b.com/x/y.html?ref=feed&b=2&a=1").toDF("url")
    val got = raw.select(TextAnalysis.canonicalUrl($"url").as("c"))
      .collect().map(_.getString(0)).toSet
    assert(got === Set("https://a.b.com/x/y.html?a=1&b=2"))
  }

  test("termDrift: per-term 2x2 chi-square replays in BigInt; cut is chi2-descending") {
    val out = TextAnalysis.termDrift(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val tk = Option(r.getAs[String]("text")).getOrElse("")
          .toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        (r.getAs[Long]("doc_id") % 2, tk)
      }
    val n0 = docs.count(_._1 == 0L).toLong
    val n1 = docs.count(_._1 == 1L).toLong
    out.foreach { r =>
      val t = r.getAs[String]("term")
      val a = docs.count { case (h, tk) => h == 0L && tk.contains(t) }.toLong
      val c = docs.count { case (h, tk) => h == 1L && tk.contains(t) }.toLong
      assert(r.getAs[Long]("docs_h0") === a)
      assert(r.getAs[Long]("docs_h1") === c)
      val (b, d) = (BigInt(n0 - a), BigInt(n1 - c))
      val den = (a + b) * (c + d) * (a + c) * (b + d)
      val det = BigInt(a) * d - b * c
      val want = if (den == 0) BigInt(0)
        else (a + b + c + d) * det * det * 1000000 / den
      assert(BigInt(r.getAs[Long]("chi2_micro")) === want, s"term $t")
    }
    val chis = out.map(_.getAs[Long]("chi2_micro")).toSeq
    assert(chis === chis.sorted.reverse)
  }

  test("vocabGrowth: cumulative columns are monotone, final totals exact, distinct-so-far honest") {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val out = TextAnalysis.vocabGrowth(spark, sf).collect()
    assert(out.length === TextAnalysis.vocabDeciles)
    assert(out.map(_.getAs[Int]("decile")).toSeq === (0 until TextAnalysis.vocabDeciles))
    // cumulative monotonicity; new_types re-sums to vocab_cum
    val vc = out.map(_.getAs[Long]("vocab_cum"))
    assert(vc.zip(vc.tail).forall { case (a, b) => b >= a })
    assert(out.map(_.getAs[Long]("new_types")).sum === vc.last)
    // exact final totals against direct corpus aggregates
    val docs = graft.Tables.documents(spark, sf)
    val nDocs = docs.count()
    val nTokens = docs.select(sum(size(graft.functions.TextFunctions.tokens($"text")).cast("long")))
      .as[Long].head()
    val vocab = docs.select(explode(graft.functions.TextFunctions.tokens($"text")).as("t"))
      .select(countDistinct($"t")).as[Long].head()
    assert(out.last.getAs[Long]("n_docs_cum") === nDocs)
    assert(out.last.getAs[Long]("n_tokens_cum") === nTokens)
    assert(vc.last === vocab)
    // the half-corpus checkpoint replays an independent distinct over the prefix
    val mid = out(TextAnalysis.vocabDeciles / 2 - 1)
    val cut = mid.getAs[Long]("n_docs_cum")
    val prefixVocab = docs.filter($"doc_id" < cut)
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("t"))
      .select(countDistinct($"t")).as[Long].head()
    assert(mid.getAs[Long]("vocab_cum") === prefixVocab)
    // ttr is the exact integer ratio
    out.foreach(r => assert(r.getAs[Long]("ttr_u4") ===
      r.getAs[Long]("vocab_cum") * 10000L / math.max(r.getAs[Long]("n_tokens_cum"), 1L)))
  }

  test("vocabDrift: counts replay exact driver-side set arithmetic over both snapshots") {
    val sparkS = spark
    import sparkS.implicits._
    val out = TextAnalysis.vocabDrift(spark, sf).collect().head
    def tokensOf(s: String) =
      s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", coalesce($"text", lit("")).as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val v1 = docs.flatMap(d => tokensOf(d._2))
    val v2 = docs.filter(_._1 % 5 != 4)
      .map { case (id, t) => if (id % 7 == 0) t + " v2-edit" else t }
      .flatMap(tokensOf) ++
      docs.filter(_._1 % 11 == 0).flatMap(d => tokensOf(d._2))
    val (s1, s2) = (v1.toSet, v2.toSet)
    assert(out.getAs[Long]("n_types_v1") === s1.size.toLong)
    assert(out.getAs[Long]("n_types_v2") === s2.size.toLong)
    assert(out.getAs[Long]("n_born_types") === (s2 -- s1).size.toLong)
    assert(out.getAs[Long]("n_dead_types") === (s1 -- s2).size.toLong)
    assert(out.getAs[Long]("n_shared_types") === (s1 & s2).size.toLong)
    assert(out.getAs[Long]("vocab_jaccard_u4") ===
      (s1 & s2).size.toLong * 10000L / (s1 | s2).size)
    assert(out.getAs[Long]("tokens_v1") === v1.size.toLong)
    assert(out.getAs[Long]("tokens_v2") === v2.size.toLong)
    // the edit fixture genuinely moves the vocabulary both ways
    assert(out.getAs[Long]("n_born_types") > 0)
  }

  test("positionalProfile: deciles cover the token stream; shares and argmax replay driver-side") {
    val sparkS = spark
    import sparkS.implicits._
    val out = TextAnalysis.positionalProfile(spark, sf).collect()
    assert(out.map(_.getAs[Int]("rp")).toSeq === (0 until 10))
    val docs = graft.Tables.documents(spark, sf)
      .select(coalesce($"text", lit("")).as("t")).collect().map(_.getString(0))
    val toks = docs.flatMap { t =>
      val tk = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      tk.zipWithIndex.map { case (w, p) =>
        (math.min(p * 10 / math.max(tk.length, 1), 9), w)
      }
    }
    assert(out.map(_.getAs[Long]("n_tokens")).sum === toks.length.toLong)
    val byRp = toks.groupBy(_._1)
    out.foreach { r =>
      val rp = r.getAs[Int]("rp")
      val counts = byRp(rp).groupBy(_._2).map { case (w, xs) => w -> xs.size.toLong }
      assert(r.getAs[Long]("n_types") === counts.size.toLong)
      // argmax with ties -> larger token (the pinned mirror order)
      val best = counts.toSeq.maxBy { case (w, c) => (c, w) }
      assert(r.getAs[String]("top_token") === best._1)
      assert(r.getAs[Long]("top_cnt") === best._2)
      assert(r.getAs[Long]("top_share_u4") ===
        best._2 * 10000L / byRp(rp).length)
    }
  }

  test("q269: n=1 totals equal the token count; distinct never exceeds total") {
    val out = TextAnalysis.distinctNgramDiversity(spark, sf).collect()
    assert(out.nonEmpty)
    val tokTotal = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.tokens(
          org.apache.spark.sql.functions.col("text"))).cast("long").as("nt"))
      .agg(org.apache.spark.sql.functions.sum("nt")).collect()(0).getLong(0)
    assert(out.filter(_.getAs[Int]("n") == 1)
      .map(_.getAs[Long]("n_grams")).sum === tokTotal)
    out.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_grams"))
      val ttr = r.getAs[Long]("ttr_u4")
      assert(ttr >= 0L && ttr <= 10000L)
    }
    // phrase space grows with n on natural-ish text: ttr strictly rises
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val byN = rs.map(r => r.getAs[Int]("n") -> r.getAs[Long]("ttr_u4")).toMap
      assert(byN(1) < byN(2) && byN(2) < byN(3), s"ttr not rising for $src")
    }
  }

  test("q270: slope matches a driver-side OLS replay on one source") {
    val out = TextAnalysis.zipfSlope(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_ranks") >= 2L)
      assert(r.getAs[Double]("slope") < 0.0) // frequency falls with rank
    }
    // exact replay of the integer-unit OLS for the first source
    val src = out.head.getAs[String]("source")
    val freqs = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("source") === src)
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.tokens(
          org.apache.spark.sql.functions.col("text"))).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("count"))
    val head = freqs.sortBy { case (t, f) => (-f, t) }
      .take(TextAnalysis.zipfHeadRanks).zipWithIndex
      .map { case ((_, f), i) =>
        def u(v: Double) = math.floor(BigDecimal(v).setScale(8,
          BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6 + 0.5).toLong
        (u(math.log(i + 1.0)), u(math.log(f.toDouble)))
      }
    val n = head.length.toLong
    val (sx, sy) = (head.map(_._1).sum, head.map(_._2).sum)
    val sxy = head.map(p => p._1 * p._2).sum
    val sxx = head.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val expected = math.floor(slope * 1e4 + 0.5) / 1e4
    assert(out.head.getAs[Double]("slope") === expected)
  }

  test("q283: Kneser-Ney bigram table — independent recount of every statistic and the probability identities") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val out = TextAnalysis.knBigramTable(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.length === TextAnalysis.knTopN)
    // driver-side bigram counts from scratch
    val bgs = Tables.documents(spark, sf)
      .select(tokens($"text").as("tk")).collect()
      .map(_.getSeq[String](0)).filter(_.size >= 2)
      .flatMap(tk => tk.sliding(2).map(w => (w.head, w(1))))
    val c12 = bgs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = bgs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n1r = c12.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1l = c12.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val t = c12.size.toLong
    // the top-N cut is (c12 desc, w1, w2) deterministic
    val expectTop = c12.toSeq.map { case ((a, b), c) => (a, b, c) }
      .sortBy { case (a, b, c) => (-c, a, b) }.take(TextAnalysis.knTopN)
      .map { case (a, b, _) => (a, b) }
    assert(out.map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"))).toSeq
      === expectTop)
    out.foreach { r =>
      val (a, b) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      assert(r.getAs[Long]("c12") === c12((a, b)))
      assert(r.getAs[Long]("c1") === c1(a))
      assert(r.getAs[Long]("n1r") === n1r(a))
      assert(r.getAs[Long]("n1l") === n1l(b))
      assert(r.getAs[Long]("t_types") === t)
      val pml = math.max(4 * c12((a, b)) - 3, 0L) * 1000000L / (4 * c1(a))
      val lam = 3 * n1r(a) * 1000000L / (4 * c1(a))
      val pcont = n1l(b) * 1000000L / t
      assert(r.getAs[Long]("pml_u6") === pml)
      assert(r.getAs[Long]("lambda_u6") === lam)
      assert(r.getAs[Long]("pcont_u6") === pcont)
      assert(r.getAs[Long]("pkn_u6") === pml + lam * pcont / 1000000L)
      // identities: discounted mass never exceeds ML mass; KN adds
      // back-off strictly when the continuation is non-trivial
      assert(pml <= c12((a, b)) * 1000000L / c1(a))
      assert(r.getAs[Long]("pkn_u6") >= pml)
      assert(r.getAs[Long]("pkn_u6") <= 1000000L)
    }
  }

  test("q289: Good-Turing — frequency-of-frequencies recount and the r* / unseen-mass algebra") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val out = TextAnalysis.goodTuring(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    val counts = Tables.documents(spark, sf)
      .select(explode(tokens($"text")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c")).collect()
      .map(_.getLong(1))
    val fof = counts.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = counts.sum
    val types = counts.length.toLong
    val n1 = fof.getOrElse(1L, 0L)
    // the output IS the ascending head of the fof table
    assert(out.map(_.getAs[Long]("r")).toSeq ===
      fof.keys.toSeq.sorted.take(TextAnalysis.gtTopR))
    out.foreach { r =>
      val rr = r.getAs[Long]("r")
      val nNext = fof.getOrElse(rr + 1, 0L)
      assert(r.getAs[Long]("n_r") === fof(rr))
      assert(r.getAs[Long]("n_next") === nNext)
      assert(r.getAs[Boolean]("has_next") === (nNext > 0))
      assert(r.getAs[Long]("r_star_u6") ===
        (rr + 1) * nNext * 1000000L / fof(rr))
      assert(r.getAs[Long]("mass_u6") === rr * fof(rr) * 1000000L / n)
      assert(r.getAs[Long]("p0_u6") === n1 * 1000000L / n)
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Long]("n_types") === types)
    }
    // the fof table is non-trivial and the adjusted counts actually
    // engage (some r has an occupied successor); when every observed
    // frequency is ≥ 2 (this synthetic corpus reuses a small vocabulary)
    // the unseen mass is exactly 0 — the operator reports that honestly
    assert(fof.size >= 5)
    assert(out.exists(_.getAs[Boolean]("has_next")))
    assert(out.head.getAs[Long]("p0_u6") === n1 * 1000000L / n)
    // observed-mass conservation: when all frequencies fit in the head,
    // the floored per-r masses sum to 1e6 within one floor per row
    if (fof.size <= TextAnalysis.gtTopR) {
      val massSum = out.map(_.getAs[Long]("mass_u6")).sum
      assert(massSum <= 1000000L && massSum >= 1000000L - out.length)
    }
  }

  test("q291: conformal gate — threshold is the exact rank quantile; calibration guarantee holds") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val out = TextAnalysis.conformalGate(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.length === 1)
    val r = out.head
    // driver replay of score / gate / coin per document
    def md532(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", tokens($"text").as("tk"), $"text").collect()
      .map { row =>
        val id = row.getLong(0)
        val tk = row.getSeq[String](1)
        val nw = tk.size.toLong
        val nStop = tk.count(TextAnalysis.stopwords.contains).toLong
        val q = if (nw == 0) 0.0
          else math.min(1.0, nw / 100.0) * 0.6 + nStop.toDouble / nw * 0.4
        val score = math.floor(math.floor(q * 1e4 + 0.5) / 1e4 * 1e4 + 0.5).toLong
        val dup = if (nw == 0) 0.0
          else math.floor((1.0 - tk.distinct.size.toDouble / nw) * 1e4 + 0.5) / 1e4
        val mwl = if (nw == 0) 0.0
          else math.floor(tk.map(_.length).sum.toDouble / nw * 1e4 + 0.5) / 1e4
        val passes = nw >= TextAnalysis.gopherMinWords &&
          dup < TextAnalysis.gopherMaxDupRatio &&
          mwl >= TextAnalysis.gopherMeanLen._1 &&
          mwl <= TextAnalysis.gopherMeanLen._2
        (id, score, passes, md532(s"cal:$id") % 2 == 0)
      }
    val calPass = docs.filter(d => d._4 && d._3).map(_._2).sorted
    val nCal = calPass.length.toLong
    val allowed = nCal * TextAnalysis.confAlphaPct / 100
    val t = calPass(allowed.toInt) // the (k+1)-th smallest score
    assert(r.getAs[Long]("threshold_u4") === t)
    assert(r.getAs[Long]("n_cal_pass") === nCal)
    assert(r.getAs[Long]("allowed_misses") === allowed)
    // the conformal guarantee on calibration data, and maximality of t
    assert(calPass.count(_ < t) <= allowed)
    val higher = calPass.filter(_ > t)
    if (higher.nonEmpty)
      assert(calPass.count(_ < higher.min) > allowed,
        "a higher threshold would also satisfy the bound — t not maximal")
    // test-side counts replay
    val test = docs.filter(!_._4)
    assert(r.getAs[Long]("n_test_pass") === test.count(_._3).toLong)
    assert(r.getAs[Long]("n_test_pass_kept") ===
      test.count(d => d._3 && d._2 >= t).toLong)
    assert(r.getAs[Long]("n_test_fail_admitted") ===
      test.count(d => !d._3 && d._2 >= t).toLong)
    assert(r.getAs[Long]("coverage_u4") ===
      r.getAs[Long]("n_test_pass_kept") * 10000L /
        math.max(r.getAs[Long]("n_test_pass"), 1L))
    // realized coverage is in the conformal regime at the gate SF
    assert(r.getAs[Long]("coverage_u4") >= 8000L)
  }

  test("q297: unigram-LM training — full hard-EM replayed in pure Scala") {
    import spark.implicits._
    val out = TextAnalysis.unigramLmTrain(spark, sf).collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Boolean]("is_char"),
        r.getAs[Long]("cnt"), r.getAs[Long]("cost_u6")))
    graft.CacheGuard.release()
    // word-type dictionary straight from the parquet, same filters
    val wd = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("w"))
      .collect().map(_.getString(0)) // collect-ok: gate-SF spec replay
      .filter(w => w.matches("^[a-z0-9]+$") &&
        w.length <= TextAnalysis.uniMaxWordLen)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    // cost = −⌊round(ln(cnt/tot), 8)·1e6 + 0.5⌋ — Spark round() is HALF_UP
    def cost(cnt: Long, tot: Long): Long = {
      val snapped = BigDecimal(math.log(cnt.toDouble / tot.toDouble))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      -math.floor(snapped * 1e6 + 0.5).toLong
    }
    // seed: all substrings of length 1..P, weighted by word count
    val subCnt = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((w, c) <- wd; i <- 0 until w.length;
         k <- 1 to TextAnalysis.uniMaxPieceLen if i + k <= w.length)
      subCnt(w.substring(i, i + k)) += c
    val chars = subCnt.filter(_._1.length == 1).toMap
    def topMulti(m: Map[String, Long], cap: Int): Map[String, Long] =
      m.toSeq.filter(_._1.length >= 2)
        .sortBy { case (p, c) => (-c, p) }.take(cap).toMap
    var vocab = (chars ++ topMulti(subCnt.toMap, TextAnalysis.uniSeedMulti))
    var costs = { val t = vocab.values.sum; vocab.map { case (p, c) => p -> cost(c, t) } }
    for (cap <- TextAnalysis.uniPruneSchedule) {
      // Viterbi per word type: best (cost, path), tie → smaller path
      val ecnt = collection.mutable.Map[String, Long]().withDefaultValue(0L)
      for ((w, c) <- wd) {
        val best = Array.fill[(Long, String)](w.length + 1)(null)
        best(0) = (0L, "")
        for (j <- 1 to w.length) {
          val cands = for {
            k <- 1 to math.min(TextAnalysis.uniMaxPieceLen, j)
            p = w.substring(j - k, j)
            pc <- costs.get(p)
            if best(j - k) != null
          } yield (best(j - k)._1 + pc, best(j - k)._2 + p + "|")
          best(j) = cands.min
        }
        best(w.length)._2.split("\\|").filter(_.nonEmpty)
          .foreach(p => ecnt(p) += c)
      }
      val kept = chars.map { case (p, _) => p -> math.max(ecnt(p), 1L) } ++
        topMulti(ecnt.toMap, cap)
      val t = kept.values.sum
      vocab = kept
      costs = kept.map { case (p, c) => p -> cost(c, t) }
    }
    val want = vocab.map { case (p, c) =>
      (p, p.length == 1, c, costs(p)) }.toSet
    assert(out.toSet === want)
    assert(out.exists(!_._2), "trained vocab must contain multi-char pieces")
  }

  test("q298: unigram encode — Viterbi replay from the trained vocab; fertility rollup exact") {
    import spark.implicits._
    val out = TextAnalysis.unigramEncodeFertility(spark, sf).collect()
    graft.CacheGuard.release()
    val costs = TextAnalysis.unigramLmTrain(spark, sf).collect()
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("cost_u6")).toMap
    graft.CacheGuard.release()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source",
        graft.functions.TextFunctions.tokens($"text").as("tk"))
      .collect() // collect-ok: gate-SF spec replay
      .map(r => (r.getString(0), r.getSeq[String](1)))
    def viterbi(w: String): Option[Seq[String]] = {
      if (!w.matches("^[a-z0-9]+$") ||
          w.length > TextAnalysis.uniMaxWordLen) return None
      val best = Array.fill[(Long, String)](w.length + 1)(null)
      best(0) = (0L, "")
      for (j <- 1 to w.length) {
        val cands = for {
          k <- 1 to math.min(TextAnalysis.uniMaxPieceLen, j)
          p = w.substring(j - k, j)
          pc <- costs.get(p)
          if best(j - k) != null
        } yield (best(j - k)._1 + pc, best(j - k)._2 + p + "|")
        best(j) = cands.min
      }
      Some(best(w.length)._2.split("\\|").filter(_.nonEmpty).toSeq)
    }
    val want = docs.groupBy(_._1).map { case (src, rows) =>
      val words = rows.flatMap(_._2)
      val encoded = words.map(w => w -> viterbi(w))
      val enc = encoded.collect { case (w, Some(ps)) => (w, ps) }
      val pieces = enc.map(_._2.size.toLong).sum
      val chars = enc.map(_._1.length.toLong).sum
      // every encoded word must reconstruct from its pieces
      enc.foreach { case (w, ps) => assert(ps.mkString("") === w) }
      (src, words.size.toLong, enc.size.toLong,
        (words.size - enc.size).toLong, pieces, chars,
        pieces * 10000L / math.max(enc.size.toLong, 1L),
        chars * 10000L / math.max(pieces, 1L))
    }.toSet
    val got = out.map(r => (r.getAs[String]("source"),
      r.getAs[Long]("n_words"), r.getAs[Long]("n_enc_words"),
      r.getAs[Long]("n_oov_words"), r.getAs[Long]("n_pieces"),
      r.getAs[Long]("n_chars"), r.getAs[Long]("fertility_u4"),
      r.getAs[Long]("compression_u4"))).toSet
    assert(got === want)
  }

  test("scaled-dictionary seam: the knobs provably flow, and EM converges to the data's vocabulary") {
    import TextAnalysis.{uniSeedMulti, uniPruneSchedule}
    def vocabMulti(seed: Int, sched: Seq[Int]): Long = {
      val n = TextAnalysis.unigramTrainedCostsWith(spark, sf, seed, sched)
        .filter("length(piece) >= 2").count()
      graft.CacheGuard.release()
      n
    }
    // an EMPTY schedule returns the raw seed vocabulary — the seam is
    // provably not a no-op: seed size flows straight through (a
    // dictionary-scaled probe row whose knobs were silently ignored
    // would fail here).
    // Caps chosen below the spec corpus's ~157 distinct multi-char
    // substrings so the limit is the binding constraint.
    assert(vocabMulti(20, Nil) === 20L)
    assert(vocabMulti(120, Nil) === 120L)
    // under the FULL schedule, EM re-estimation keeps only pieces USED
    // on best paths, so both runs converge to the data's natural
    // winner set (way below the caps) — the 10x run's extra cost is
    // carried by its bigger INTERMEDIATE rounds (what the
    // q298_dict_* probe rows measure), while the converged model is corpus-determined, not
    // knob-determined. Pin that convergence: same used vocabulary.
    val v1 = vocabMulti(uniSeedMulti, uniPruneSchedule)
    val v10 = vocabMulti(uniSeedMulti * 10, uniPruneSchedule.map(_ * 10))
    assert(v1 <= uniPruneSchedule.last.toLong)
    assert(v10 <= uniPruneSchedule.last * 10L)
    assert(v1 === v10, // both converge to the used-winner set here
      s"convergence drifted with the knob scale: $v1 vs $v10")
  }

  test("brierDecomposition: exact replay from the q26/q60 signal pair; Murphy identity holds to quantization") {
    import spark.implicits._
    // rebuild the per-doc (decile bin, gopher pass) pairs from the two
    // DECLARED signal queries — the decomposition must sit exactly on
    // top of what q26 and q60 already publish
    val q = TextAnalysis.qualityScore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val g = TextAnalysis.gopherQuality(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("passes")).toMap
    val pairs = q.keys.toSeq.map { id =>
      val u4 = math.floor(q(id) * 1e4 + 0.5).toLong
      (math.min(u4 / 1000, 9L), g(id))
    }
    val bins = pairs.groupBy(_._1).map { case (b, g2) =>
      (b, g2.length.toLong, g2.count(_._2).toLong) }.toSeq
    val n = pairs.length.toLong
    val c = pairs.count(_._2).toLong
    val brier400 = bins.map { case (b, nb, cb) =>
      nb * (2 * b + 1) * (2 * b + 1) - 40 * (2 * b + 1) * cb + 400 * cb
    }.sum
    val relSum = bins.map { case (b, nb, cb) =>
      val num = (2 * b + 1) * nb - 20 * cb
      math.floor((num * num).toDouble / (400.0 * nb) * 1e6 + 0.5).toLong
    }.sum
    val resSum = bins.map { case (_, nb, cb) =>
      val d = cb * n - c * nb
      math.floor((d.toDouble / n) * (d.toDouble / n) / nb * 1e6 + 0.5).toLong
    }.sum
    def u6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val brierU = u6(brier400.toDouble / (400.0 * n))
    val relU = u6(relSum.toDouble / 1e6 / n)
    val resU = u6(resSum.toDouble / 1e6 / n)
    val uncU = u6((c * (n - c)).toDouble / (n.toDouble * n.toDouble))
    val r = TextAnalysis.brierDecomposition(spark, sf).head()
    assert(r.getAs[Long]("n_docs") === n)
    assert(r.getAs[Long]("n_pass") === c)
    assert(r.getAs[Long]("n_bins") === bins.length.toLong)
    assert(r.getAs[Double]("brier") === brierU.toDouble / 1e6)
    assert(r.getAs[Double]("reliability") === relU.toDouble / 1e6)
    assert(r.getAs[Double]("resolution") === resU.toDouble / 1e6)
    assert(r.getAs[Double]("uncertainty") === uncU.toDouble / 1e6)
    assert(r.getAs[Long]("identity_residual_u6") ===
      brierU - (relU - resU + uncU))
    // Murphy 1973: brier = rel − res + unc exactly in the reals; the
    // residual of the four independently-quantized values is bounded by
    // the quantization grain (each term ±0.5 micro-units + the per-bin
    // sums' accumulated half-ulps)
    assert(math.abs(r.getAs[Long]("identity_residual_u6")) <=
      2L + bins.length)
    // decomposition is non-vacuous on this corpus: both signal classes
    // occur and the score separates them at least somewhat
    assert(c > 0 && c < n)
    assert(r.getAs[Double]("resolution") > 0.0)
  }
}
