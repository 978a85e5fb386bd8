package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators for LLM training-data pipelines (north-star
  * extensions, SURVEY.md §2.9 / BASELINE.json): language-ID heuristic,
  * quality scoring, token counting, term frequency, fingerprinting.
  * All pure column expressions over `documents` — fully codegen'd,
  * embarrassingly parallel, no shuffle except the final aggregates.
  */
object TextAnalysis {

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Language-ID n-gram/stopword heuristic: score a handful of marker
    * terms per language and take the argmax (deterministic tie order).
    * A real fastText-style model would ship as a broadcast table of n-gram
    * weights — the plan shape (per-row scoring, no shuffle) is identical. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val en = stopwordCount(toks, Seq("the", "a", "of"))
    val tech = stopwordCount(toks, Seq("spark", "query", "vector"))
    val data = stopwordCount(toks, Seq("table", "row", "column"))
    Tables.documents(spark, dir)
      .select(
        $"doc_id", $"lang",
        when(size(toks) === 0, "unknown")
          .when(en >= tech && en >= data, "en_like")
          .when(tech >= data, "tech_like")
          .otherwise("data_like").as("predicted"))
      .orderBy($"doc_id")
  }

  /** Term-level DRIFT significance — q146's source-level KL drift taken
    * down to the vocabulary: which TERMS changed between two corpus
    * slices (here the deterministic doc_id-parity halves; production
    * slices are yesterday/today)? Per term, the 2×2 presence table
    * (docs containing it per half vs not) scored with the exact
    * chi-square χ² = N(ad−bc)²/(margins) in q212's DECIMAL(38)
    * micro-unit arithmetic — doc-level presence, not occurrence
    * counts, keeps the products well inside DECIMAL(38) at every probe
    * scale. Top terms by χ² are the drift report a vocab monitor pages
    * on.
    *
    * Scale shape: one tokenize scan to per-(term, half) doc counts
    * (array_distinct before the explode — presence, and fewer rows),
    * O(vocab) keyed aggregation with map-side partials, half totals
    * broadcast from a 2-row aggregate, TakeOrdered cut. */
  def termDrift(spark: SparkSession, dir: String,
                topK: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(($"doc_id" % 2).as("h"),
        explode(array_distinct(tokens($"text"))).as("term"))
    val totals = Tables.documents(spark, dir)
      .agg(sum(when($"doc_id" % 2 === 0, 1L).otherwise(0L)).as("n0"),
        sum(when($"doc_id" % 2 === 1, 1L).otherwise(0L)).as("n1"))
    val counts = docs.groupBy($"term")
      .agg(sum(when($"h" === 0, 1L).otherwise(0L)).as("a"),
        sum(when($"h" === 1, 1L).otherwise(0L)).as("c"))
    counts.crossJoin(broadcast(totals))
      .select($"term", $"a", ($"n0" - $"a").as("b"), $"c",
        ($"n1" - $"c").as("d"))
      .select($"term", $"a", $"b", $"c", $"d",
        expr("cast(a as decimal(12,0)) * cast(d as decimal(12,0)) - " +
          "cast(b as decimal(12,0)) * cast(c as decimal(12,0))").as("det"),
        expr("(cast(a+b as decimal(12,0)) * cast(c+d as decimal(12,0))) * " +
          "(cast(a+c as decimal(12,0)) * cast(b+d as decimal(12,0)))")
          .as("den"))
      .select($"term", $"a".as("docs_h0"), $"c".as("docs_h1"),
        when($"den" === 0, 0L)
          .otherwise(expr(
            "(cast(a+b+c+d as decimal(12,0)) * (det * det) * 1000000) " +
              "div den")).as("chi2_micro"))
      .orderBy($"chi2_micro".desc, $"term")
      .limit(topK)
  }

  /** The q26 composite quality score as a column over (n_tokens, n_stop)
    * — one source of truth for every quality-ranked operator. */
  def qualityExpr(nTokens: org.apache.spark.sql.Column,
                  nStop: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Quant.r4(
      when(nTokens === 0, 0.0)
        .otherwise(
          least(lit(1.0), nTokens.cast("double") / 100.0) * 0.6 +
          (nStop.cast("double") / greatest(nTokens, lit(1)).cast("double")) * 0.4))

  /** Quality scoring: length, token, punctuation and stopword statistics
    * plus a composite score — the standard cheap pre-filter before
    * expensive dedup/model stages in a data pipeline. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_punct", punctCount($"text").cast("long"))
      .withColumn("n_stop", stopwordCount(toks, stopwords).cast("long"))
      .select(
        $"doc_id",
        $"n_tokens",
        $"n_punct",
        $"n_stop",
        qualityExpr($"n_tokens", $"n_stop").as("quality"))
      .orderBy($"doc_id")
  }

  /** Grouped top-k WITHOUT a window: the best-k documents per source by
    * the q26 quality score, ranked by the same bounded
    * [[graft.functions.TopKAgg]] that serves ANN (score = quality,
    * id = doc_id — the aggregator is score-agnostic).
    *
    * Why not `row_number() OVER (PARTITION BY source)`: the window
    * shuffles EVERY scored document through the source exchange before
    * the rank filter; the aggregator plans as ObjectHashAggregate with a
    * partial mode, so each map partition forwards at most k candidates
    * per source — the exchange carries O(partitions × sources × k) rows.
    * For "top 3 of billions per source" that is the whole job. Tie order
    * (quality DESC, doc_id ASC) matches the oracle's window exactly. */
  def topQualityPerSource(spark: SparkSession, dir: String,
                          k: Int = 3): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stop", stopwordCount(toks, stopwords).cast("long"))
      .select($"source", $"doc_id",
        qualityExpr($"n_tokens", $"n_stop").as("quality"))
      .groupBy($"source")
      .agg(graft.functions.TopK.topK(k)($"quality", $"doc_id").as("hits"))
      .select($"source", posexplode($"hits"))
      .select($"source", ($"pos" + 1).cast("long").as("rank"),
        $"col.vec_id".as("doc_id"), $"col.cos_sim".as("quality"))
      .orderBy($"source", $"rank")
  }

  /** Token counting per doc: whitespace tokens and a BPE-ish regex token
    * count (word pieces + punctuation as separate tokens). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        size(tokens($"text")).cast("long").as("ws_tokens"),
        size(array_remove(
          regexp_extract_all($"text", lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)),
          "")).cast("long").as("bpe_ish_tokens"))
      .orderBy($"doc_id")
  }

  /** Corpus term frequency: explode tokens → count → top-k. The groupBy is
    * the one shuffle; partial aggregation collapses the per-partition token
    * stream before the exchange, so at 100 TB the shuffle carries only
    * (vocab × partitions) rows. */
  def termFrequency(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"token")
      .limit(k)
  }

  /** Document fingerprinting: stable content hash (md5 of normalized text)
    * + 32-bit rolling-style short hash; grouped per language to show the
    * dedup-rate signal a pipeline would monitor. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        $"lang",
        fingerprint($"text").as("fp"),
        md5Hash32(fingerprint($"text")).as("fp32"))
      .orderBy($"doc_id")
  }

  /** PII regexes, shared verbatim with the q59 oracle (the subset of
    * regex syntax Java and RE2 interpret identically: classes, bounded
    * repetition, `\b`, `\S`). Replacement ORDER is part of the contract —
    * email first, then URL, then IP, then phone — so a URL containing an
    * IP-shaped path segment redacts as one `<URL>`, not a URL wrapping an
    * `<IP>` token. */
  val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiUrl = "https?://\\S+"
  val piiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiPhone = "\\+\\d{1,3} \\d{2,4} \\d{5,9}"

  /** PII redaction — the compliance pass every web-scale training corpus
    * runs before the text reaches a model: emails, URLs, bare IPv4s and
    * phone numbers are replaced with typed placeholder tokens, and the
    * per-kind match counts are kept as the audit signal. Pure codegen'd
    * regexp_replace chain — embarrassingly parallel, no shuffle, and at
    * 100 TB it pipelines inside the same WholeStageCodegen stage as the
    * quality/language filters it runs beside.
    *
    * The synthetic corpus is PII-free, so each doc gets a deterministic
    * doc_id-derived PII tail appended first (same technique as
    * [[unicodeTail]]); the SAME expression is interpolated into the
    * oracle, so both engines redact identical bytes. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = concat(coalesce($"text", lit("")),
      lit(" Contact user"), $"doc_id", lit("@example.com or +49 170 "),
      lit(1000000) + $"doc_id", lit(" at 10.0.0."), pmod($"doc_id", lit(256)),
      lit(" via https://tracker.example/visit?id="), $"doc_id")
    def n(pat: String) =
      size(regexp_extract_all(col("raw"), lit(pat), lit(0))).cast("long")
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), piiEmail, "<EMAIL>"),
            piiUrl, "<URL>"),
          piiIp, "<IP>"),
        piiPhone, "<PHONE>")
    Tables.documents(spark, dir)
      .select($"doc_id", raw.as("raw"))
      .select($"doc_id",
        n(piiEmail).as("n_emails"), n(piiUrl).as("n_urls"),
        n(piiIp).as("n_ips"), n(piiPhone).as("n_phones"),
        length(redacted).cast("long").as("clean_len"),
        md5(redacted).as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** Gopher-rule thresholds (MassiveText-style heuristic gate), shared
    * with the q60 oracle. Tuned so the synthetic corpus (10–99 tokens,
    * ~0.5 repeated-token ratio, 3.7–5.3 mean word length) splits into a
    * genuine pass/fail mix rather than a constant column. */
  val gopherMinWords = 30
  val gopherMaxDupRatio = 0.55
  val gopherMeanLen: (Double, Double) = (3.0, 4.5)

  /** Gopher-style document quality rules — the published heuristic
    * filters large web corpora apply before training (word count bounds,
    * mean word length window, repetition and symbol ratios). All pure
    * per-row array/string expressions: token-character totals come from
    * `length(array_join(toks))` (codegen'd) rather than a per-token
    * lambda, and the repetition signal is `1 − distinct/total` over the
    * token array. No shuffle; the `passes` bit is the gate a pipeline
    * filters on. */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    Tables.documents(spark, dir)
      .select($"doc_id", toks.as("toks"), punctCount($"text").as("n_punct"))
      .select($"doc_id", size($"toks").cast("long").as("n_words"),
        Quant.r4(length(array_join($"toks", "")).cast("double") /
          greatest(size($"toks"), lit(1)).cast("double")).as("mean_word_len"),
        Quant.r4(lit(1.0) - size(array_distinct($"toks")).cast("double") /
          greatest(size($"toks"), lit(1)).cast("double")).as("dup_ratio"),
        Quant.r4($"n_punct".cast("double") /
          greatest(size($"toks"), lit(1)).cast("double")).as("punct_ratio"))
      .withColumn("passes",
        $"n_words" >= gopherMinWords && $"dup_ratio" < gopherMaxDupRatio &&
          $"mean_word_len".between(gopherMeanLen._1, gopherMeanLen._2))
      .orderBy($"doc_id")
  }

  /** Thresholds for [[qualityPrCurve]], shared with the q151 oracle.
    * Placed across the passers' score range (0.21–0.42 on the synthetic
    * corpus) so every confusion cell is populated and the curve actually
    * trades precision against recall. */
  val prThresholds = Seq(0.2, 0.25, 0.3, 0.35, 0.4)

  /** Quality-classifier CALIBRATION curve — the eval every cheap quality
    * score needs before it gates a corpus: sweep the q26 composite score
    * against the q60 Gopher rule gate as the reference label and report,
    * per threshold, the confusion counts plus precision / recall / F1
    * and Cohen's κ (chance-corrected agreement). A pipeline owner reads
    * this to pick the score cutoff that best reproduces the expensive
    * rule gate — or to conclude the score is uncalibrated.
    *
    * Float discipline: P/R/F1 use the integer-ratio forms
    * (`f1 = 2·tp/(2·tp+fp+fn)` — never composed from rounded P and R);
    * κ composes two exact-count ratios with pinned parenthesization
    * `(po − pe) / (1 − pe)`, identical IEEE steps in both engines.
    *
    * Scale shape: both signal passes are per-row expression work over
    * one scan each, joined on doc_id; the sweep is the q138/q148
    * broadcast fan-out — exchange O(thresholds). */
  def qualityPrCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scores = qualityScore(spark, dir).select($"doc_id", $"quality")
    val labels = gopherQuality(spark, dir).select($"doc_id", $"passes")
    val th = prThresholds.toDF("threshold")
    val counts = scores.join(labels, "doc_id")
      .crossJoin(broadcast(th))
      .groupBy($"threshold")
      .agg(
        sum(when($"quality" >= $"threshold" && $"passes", 1L)
          .otherwise(0L)).as("tp"),
        sum(when($"quality" >= $"threshold" && !$"passes", 1L)
          .otherwise(0L)).as("fp"),
        sum(when($"quality" < $"threshold" && $"passes", 1L)
          .otherwise(0L)).as("fn"),
        sum(when($"quality" < $"threshold" && !$"passes", 1L)
          .otherwise(0L)).as("tn"))
    val n = ($"tp" + $"fp" + $"fn" + $"tn").cast("double")
    val po = ($"tp" + $"tn").cast("double") / n
    val pe = (($"tp" + $"fp").cast("double") * ($"tp" + $"fn").cast("double") +
      ($"fn" + $"tn").cast("double") * ($"fp" + $"tn").cast("double")) / (n * n)
    counts
      .select($"threshold", $"tp", $"fp", $"fn", $"tn",
        when($"tp" + $"fp" === 0, 0.0)
          .otherwise(Quant.r4($"tp".cast("double") /
            ($"tp" + $"fp").cast("double"))).as("precision"),
        when($"tp" + $"fn" === 0, 0.0)
          .otherwise(Quant.r4($"tp".cast("double") /
            ($"tp" + $"fn").cast("double"))).as("recall"),
        when(lit(2L) * $"tp" + $"fp" + $"fn" === 0, 0.0)
          .otherwise(Quant.r4((lit(2L) * $"tp").cast("double") /
            (lit(2L) * $"tp" + $"fp" + $"fn").cast("double"))).as("f1"),
        (Quant.r4((po - pe) / (lit(1.0) - pe)) + lit(0.0)).as("kappa"))
      .orderBy($"threshold")
  }

  /** Quality floor for [[filterPipeline]]'s last rule, shared with the
    * q154 oracle. */
  val filterQualityFloor = 0.25

  /** REASON-CODED filter pipeline — the Dolma/RedPajama-style corpus
    * gate as one auditable pass: every document gets either `keep` or
    * the FIRST rule it failed, in a fixed rule order (length → Gopher
    * repetition → word-shape → composite-quality floor). Reason
    * attribution is what distinguishes a production gate from a bare
    * boolean: the reason histogram is how a pipeline owner sees WHICH
    * rule is eating the corpus when the keep-rate moves. All signals are
    * the already-oracled per-row expressions (q60's word stats, q130's
    * repetition ratios, q26's composite score) computed in ONE scan —
    * composition costs no second pass and no shuffle; the rounded-ratio
    * compares reuse each rule's existing cross-engine contract. */
  def filterPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    def dupFrac(grams: org.apache.spark.sql.Column) =
      when(size(grams) <= 0, 0.0).otherwise(
        Quant.r4((size(grams) - size(array_distinct(grams))).cast("double") /
          size(grams).cast("double")))
    val topCnt = array_max(transform(array_distinct($"tk"),
      t => size(filter($"tk", x => x === t))))
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", toks.as("tk"),
        stopwordCount(toks, stopwords).cast("long").as("n_stop"))
      .select($"doc_id", $"lang",
        size($"tk").cast("long").as("n_words"),
        dupFrac(wordShingles($"tk", 2)).as("dup_bigram_frac"),
        when(size($"tk") === 0, 0.0).otherwise(
          Quant.r4(topCnt.cast("double") / size($"tk").cast("double")))
          .as("top_token_frac"),
        Quant.r4(length(array_join($"tk", "")).cast("double") /
          greatest(size($"tk"), lit(1)).cast("double")).as("mean_word_len"),
        qualityExpr(size($"tk").cast("long"), $"n_stop").as("quality"))
      .withColumn("reason",
        when($"n_words" < gopherMinWords, "too_short")
          .when($"dup_bigram_frac" > dupBigramMax ||
            $"top_token_frac" > topTokenMax, "repetitive")
          .when(!$"mean_word_len".between(gopherMeanLen._1, gopherMeanLen._2),
            "word_shape")
          .when($"quality" < filterQualityFloor, "low_quality")
          .otherwise("keep"))
      .select($"doc_id", $"lang", $"n_words", $"reason")
      .orderBy($"doc_id")
  }

  /** A fixed multilingual tail appended to every doc so the unicode pass
    * has real accents/ligatures to work on (the synthetic corpus is
    * ASCII); the SAME Scala string is interpolated into the oracle SQL,
    * so both engines normalize identical bytes. Unicode escapes, not
    * literals — immune to source/transport encoding. */
  val unicodeTail: String =
    " Caf\u00e9 \ufb01nale \u00c5ngstr\u00f6m se\u00f1or \u00fcber"

  /** Unicode cleanup (web-corpus ingestion pass): NFC canonicalization —
    * without it, byte-level dedup misses visually-identical strings with
    * different combining-sequence encodings — and accent folding for
    * search/matching keys. Native codegen'd expressions; outputs are
    * md5+length digests so the oracle compare is byte-exact. */
  def unicodeClean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        concat(coalesce($"text", lit("")), lit(unicodeTail)).as("raw"))
      .select($"doc_id",
        length(graft.functions.native.nfcNormalize($"raw")).cast("long").as("nfc_len"),
        md5(graft.functions.native.nfcNormalize($"raw")).as("nfc_md5"),
        length(graft.functions.native.stripAccents($"raw")).cast("long").as("folded_len"),
        md5(graft.functions.native.stripAccents($"raw")).as("folded_md5"))
      .orderBy($"doc_id")
  }

  /** Unigram language-model scoring — the CCNet-style quality filter: a
    * document's mean per-token log-probability under the corpus's own
    * unigram distribution. Low scores flag word salad and boilerplate;
    * a real pipeline thresholds on them (or on a held-out LM's
    * perplexity — the plan shape is identical with the model table
    * swapped in).
    *
    * Scale shape: ONE tokenize pass builds the term-count table (shuffle
    * O(vocabulary), partial-aggregated); the per-doc pass joins tokens to
    * the O(vocab) count table and reduces per doc — the same broadcast-df
    * shape as q50's idf. Cross-engine float discipline: each token's
    * `ln(tf/T)` is QUANTIZED to integer micro-units (`floor(x·1e6 + .5)`)
    * before summation, so the per-doc sum is an exact BIGINT — immune to
    * float addition-order differences between engines; only the final
    * mean is rounded for display. */
  def unigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("term"))
    val tf = toks.groupBy($"term").agg(count(lit(1)).as("tf"))
    val total = tf.select(sum($"tf").as("total"))
    // ln rounded to 8 decimals before the 1e6 quantization: ln is not
    // correctly-rounded in either engine, and a 1-ulp disagreement on a
    // micro-unit boundary would flip the floor (the class the 10×-scale
    // differential caught in q146/q147; same hardening applied here and
    // in the q71/q145 oracles in lockstep)
    val unitCol = floor(
      round(log($"tf".cast("double") / $"total".cast("double")), 8) // round-ok: ulp-snap on ln before quantize (round-7 discipline)
        * 1e6 + lit(0.5))
      .cast("long")
    toks.join(tf, "term")
      .crossJoin(broadcast(total))
      .select($"doc_id", unitCol.as("u"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"u").as("units"))
      .select($"doc_id", $"n_tokens",
        (Quant.r4($"units".cast("double") / $"n_tokens".cast("double") / 1e6)
          + lit(0.0)).as("mean_logprob"))
      .orderBy($"doc_id")
  }

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020): per
    * language, rank documents by their q71 unigram-LM score and cut the
    * ranking into head/middle/tail terciles — the bucket assignment
    * CCNet uses to keep "head" web text, sample "middle", and drop
    * "tail". Cuts are pure integer rank arithmetic (`rn·3 ≤ n` ⟺
    * `rn ≤ ⌊n/3⌋`), ties broken by doc_id, so both engines slice
    * identically; per-bucket means re-quantize each doc's (already
    * 4-dp-exact) score to integer 1e4 units before summation so the
    * aggregate is addition-order-proof.
    *
    * Scale shape: the scoring pass is exactly q71 (one tokenize, O(vocab)
    * count table joined back); the ranking window partitions BY LANGUAGE
    * — the per-shard sort CCNet itself runs (at 100 TB a language shard
    * is range-partitioned on the score; the window never goes global);
    * the bucket rollup exchanges O(langs × 3) rows. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", explode(tokens($"text")).as("term"))
    val tf = toks.groupBy($"term").agg(count(lit(1)).as("tf"))
    val total = tf.select(sum($"tf").as("total"))
    // round-8 before quantizing, same as q71 (shared scoring chain —
    // the two stay pinned together)
    val unitCol = floor(
      round(log($"tf".cast("double") / $"total".cast("double")), 8) // round-ok: ulp-snap on ln before quantize (round-7 discipline)
        * 1e6 + lit(0.5))
      .cast("long")
    val scored = toks.join(tf, "term")
      .crossJoin(broadcast(total))
      .select($"doc_id", $"lang", unitCol.as("u"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tokens"), sum($"u").as("units"))
      .select($"doc_id", $"lang",
        (Quant.r4($"units".cast("double") / $"n_tokens".cast("double") / 1e6)
          + lit(0.0)).as("mean_logprob"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"mean_logprob".desc, $"doc_id")
    val nLang = scored.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
    scored.withColumn("rn", row_number().over(w))
      .join(broadcast(nLang), "lang")
      .withColumn("bucket",
        when($"rn" * 3 <= $"n_lang", "head")
          .when($"rn" * 3 <= $"n_lang" * 2, "middle")
          .otherwise("tail"))
      .withColumn("m4",
        floor($"mean_logprob" * 1e4 + lit(0.5)).cast("long"))
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"m4").as("sum4"),
        min($"mean_logprob").as("min_logprob"),
        max($"mean_logprob").as("max_logprob"))
      .select($"lang", $"bucket", $"n_docs",
        (Quant.r4($"sum4".cast("double") / $"n_docs".cast("double") / 1e4)
          + lit(0.0)).as("mean_bucket_logprob"),
        $"min_logprob", $"max_logprob")
      .orderBy($"lang", $"bucket")
  }

  /** First-round BPE merge statistics — the corpus-wide adjacent
    * character-pair counts a byte-pair-encoding vocabulary trainer uses
    * to pick its first merge (Sennrich et al. 2016): every occurrence of
    * every ≥2-char token contributes its length−1 overlapping 2-char
    * pairs, counted globally, top-N reported. Pure fan-out (token →
    * pairs via per-row expressions) into one partially-aggregated
    * groupBy over a tiny key domain (char pairs), then TakeOrdered for
    * the top-N — at 100 TB the exchange carries one row per DISTINCT
    * pair per partition, not per occurrence. */
  def bpePairStats(spark: SparkSession, dir: String,
                   topN: Int = 20): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(transform(sequence(lit(1), length($"w") - 1),
        i => $"w".substr(i, lit(2)))).as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(topN)
  }

  /** Interpolated-bigram LM interpolation weight, shared with the q110
    * oracle SQL. */
  val bigramLambda = 0.7

  /** Interpolated bigram language-model scoring — [[unigramLogProb]]'s
    * λ-interpolated second-order form (Jelinek–Mercer smoothing): each
    * document's mean log of `λ·P(w₂|w₁) + (1−λ)·P(w₂)` under the
    * corpus's own counts. The backoff term keeps unseen-in-context words
    * finite; a real pipeline thresholds on the score exactly like the
    * unigram gate, with ~1 nat better separation on fluent text.
    *
    * Scale shape: ONE tokenize pass behind a cache barrier feeds all
    * three count relations (unigram, bigram, per-doc probe); counts are
    * keyed aggregations with map-side combine (shuffle O(vocab) and
    * O(bigram vocab)); the per-doc pass joins the probe to the two count
    * relations on their natural keys — the q71/q50 dimension-join shape.
    * At 100 TB you drop the barrier and re-tokenize (CPU is cheaper than
    * caching a corpus); the plan is otherwise identical. Cross-engine
    * float discipline is q71's: each bigram's log-probability is
    * quantized to integer micro-nats before the per-doc sum, so the
    * aggregation is exact BIGINT; only the mean is rounded. Documents
    * with <2 tokens have no bigrams and drop out (documented; the oracle
    * does the same). */
  def bigramLogProb(spark: SparkSession, dir: String,
                    lambda: Double = bigramLambda): DataFrame = {
    import spark.implicits._
    // leaf over the fanned tokenize (round 18): referenced by the unigram
    // leg, the bigram leg, and the per-doc attach — a lazy cache was raced
    // 3-ways cold, and the tokenize rode a serial scan at probe scale
    val tk = graft.CacheGuard.checkpointLeaf(
      Tables.fannedDocuments(spark, dir)
        .select($"doc_id", tokens($"text").as("tk")))
    val toks = tk.select(explode($"tk").as("term"))
    val uni = toks.groupBy($"term").agg(count(lit(1)).as("c1"))
    val total = uni.select(sum($"c1").as("total"))
    val docBg = tk.select($"doc_id", explode(wordShingles($"tk", 2)).as("bg"))
    val big = docBg.groupBy($"bg").agg(count(lit(1)).as("c2"))
    val u1 = uni.select($"term".as("w1"), $"c1".as("c1a"))
    val u2 = uni.select($"term".as("w2"), $"c1".as("c1b"))
    val p = lit(lambda) * ($"c2".cast("double") / $"c1a") +
      lit(1.0 - lambda) * ($"c1b".cast("double") / $"total")
    docBg.join(big, "bg")
      .withColumn("w1", substring_index($"bg", " ", 1))
      .withColumn("w2", substring_index($"bg", " ", -1))
      .join(u1, "w1")
      .join(u2, "w2")
      .crossJoin(broadcast(total))
      .select($"doc_id",
        // p is exact-double-identical across engines (only +,×,/); ln is
        // not — round-8 before quantizing, pinned with the q110 oracle
        floor(round(log(p), 8) * 1e6 + lit(0.5)).cast("long").as("u")) // round-ok: ulp-snap on ln before quantize (round-7 discipline)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"u").as("units"))
      .select($"doc_id", $"n_bigrams",
        (Quant.r4($"units".cast("double") / $"n_bigrams".cast("double") / 1e6)
          + lit(0.0)).as("mean_logprob"))
      .orderBy($"doc_id")
  }

  /** Number of BPE training rounds, shared with the q117 oracle SQL. */
  val bpeTrainRounds = 3

  /** BPE vocabulary TRAINING, three merge rounds entirely in-plan — the
    * iterative half of what [[bpePairStats]] only measures once: per
    * round, count all adjacent symbol pairs across every token
    * occurrence, pick the global top pair (count desc, pair asc — an
    * integer/string-ordered `min(struct)`, no window), apply the merge
    * corpus-wide, repeat on the MERGED corpus. Output: one row per round
    * with the learned merge, its count, and the symbol-vocabulary size
    * after applying it (Sennrich et al. 2016's algorithm, the loop a
    * tokenizer trainer runs thousands of times).
    *
    * Symbol sequences are space-delimited strings (" a b c "); a merge is
    * a literal leftmost-non-overlapping `replace(' a b ' → ' ab ')` —
    * the SAME builtin with the SAME scan semantics in both engines, so
    * the oracle replays every round bit-for-bit (a fold-based merge
    * would differ from string replace on runs like "aaaa"; pinning both
    * engines to `replace` removes the ambiguity).
    *
    * Scale shape — the word-frequency-dictionary optimization every real
    * BPE trainer uses (Sennrich's reference implementation included): the
    * loop runs over token TYPES with occurrence counts, not over token
    * occurrences. ONE corpus pass builds the (type, count) dictionary
    * (keyed aggregation, map-side partials); every round after that is
    * O(vocabulary): pair counts are `Σ type_count` per adjacent pair
    * over the dictionary, the 1-row top pair broadcasts, the merge
    * rewrite touches O(vocab) rows behind a cache barrier. At 100 TB the
    * corpus is scanned exactly once regardless of the number of merge
    * rounds — the iteration state is dictionary-sized. */
  def bpeTrainMerges(spark: SparkSession, dir: String,
                     rounds: Int = bpeTrainRounds): DataFrame = {
    import spark.implicits._
    // Checkpoint leaves, not lazy barriers (round 18): the training tower
    // is consumed through per-round BROADCAST relations, and AQE
    // materializes every broadcast leg concurrently — with lazy barriers
    // the job probe measured 15–35 task-s per broadcast stage (each leg
    // racing to rebuild the cold dictionary cache partition-by-partition)
    // and 3–6.5 s of Catalyst plan-build per run re-planning the nested
    // tower. Each leaf is dictionary-sized, materialized exactly once, and
    // every reference plans as a 1-line scan. The corpus is still scanned
    // exactly once (the dict build), through Tables.fannedDocuments.
    var cur = graft.CacheGuard.checkpointLeaf(
      Tables.fannedDocuments(spark, dir)
        .select(explode(tokens($"text")).as("w"))
        .filter(length($"w") >= 2)
        .groupBy($"w").agg(count(lit(1)).as("c"))
        .select(concat(lit(" "), regexp_replace($"w", "(.)", "$1 ")).as("s"),
          $"c"))
    val perRound = (1 to rounds).map { r =>
      val prs = cur.select(split(trim($"s"), " ").as("sy"), $"c")
        .filter(size($"sy") >= 2)
        .select($"c", explode(transform(sequence(lit(1), size($"sy") - 1),
          i => struct(element_at($"sy", i).as("a"),
            element_at($"sy", i + 1).as("b")))).as("pr"))
        .groupBy($"pr.a".as("a"), $"pr.b".as("b"))
        .agg(sum($"c").as("cnt"))
      // 1-row leaf: referenced by the merge rewrite AND the report row
      val top = graft.CacheGuard.checkpointLeaf(prs
        .agg(min(struct((-$"cnt").as("nc"), $"a", $"b")).as("m"))
        .select($"m.a".as("a"), $"m.b".as("b"), (-$"m.nc").as("cnt")))
      val merged = graft.CacheGuard.checkpointLeaf(
        cur.crossJoin(broadcast(top))
          .select(expr(
            "replace(s, concat(' ', a, ' ', b, ' '), concat(' ', a, b, ' '))")
            .as("s"), $"c"))
      val vocab = merged
        .select(explode(split(trim($"s"), " ")).as("sym"))
        .agg(countDistinct($"sym").as("vocab"))
      cur = merged
      top.crossJoin(vocab)
        .select(lit(r.toLong).as("round"), $"a".as("sym_a"), $"b".as("sym_b"),
          $"cnt".as("pair_count"), $"vocab".as("vocab_after"))
    }
    perRound.reduce(_ unionByName _).orderBy($"round")
  }

  /** BPE ENCODE — apply the [[bpeTrainMerges]]-trained merge table to the
    * whole corpus (the tokenizer-APPLY half that makes q117's training
    * loop a usable tokenizer): every word starts char-spaced and each
    * trained merge rewrites it in ROUND ORDER with the same leftmost
    * non-overlapping `replace` the trainer used, so
    * encode(word) ≡ what the training dictionary chain did to that word.
    * Per document: word count, character mass, BPE token count, and the
    * chars-per-token compression ratio — the fertility numbers an actual
    * tokenizer rollout is judged on (cf. q134's vocab-coverage bound).
    *
    * Scale shape: merges are [[bpeTrainRounds]] ONE-ROW relations
    * (broadcast cross joins — the codebook pattern); encoding runs over
    * word TYPES, not occurrences (the trainer's dictionary optimization
    * again), and the type→occurrence join BROADCASTS the encoded
    * dictionary (vocabulary-sized; a corpus whose vocab outgrows
    * broadcast switches this one join to a keyed shuffle, the plan is
    * otherwise unchanged). The corpus is scanned once for training
    * (inside bpeTrainMerges, dictionary-collapsed) and once for
    * occurrence counting. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val enc = bpeEncodedTypes(spark, dir)
      .select($"w", size(split($"enc", " ")).cast("long").as("n_bpe"))
    Tables.fannedDocuments(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("w"))
      .join(broadcast(enc), "w")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length($"w")).cast("long").as("n_chars"),
        sum($"n_bpe").as("n_bpe_tokens"))
      .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens",
        Quant.r4($"n_chars".cast("double") / $"n_bpe_tokens".cast("double"))
          .as("chars_per_token"))
      .orderBy($"doc_id")
  }

  /** The encode core shared by q137/q144: every word TYPE char-spaced,
    * the trained merge table applied in round order (each merge a one-row
    * broadcast relation feeding the same leftmost non-overlapping
    * `replace` the trainer used). Returns `(w, enc)` with `enc` the
    * space-delimited symbol string. */
  private def bpeEncodedTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // leaf, not lazy barrier: the 3-row merge table feeds THREE broadcast
    // legs (one per round), which raced to fill a cold cache (round 18)
    val merges = graft.CacheGuard.checkpointLeaf(bpeTrainMerges(spark, dir))
    val mergeCols = (1 to bpeTrainRounds).map { r =>
      merges.filter($"round" === r.toLong)
        .select(
          concat(lit(" "), $"sym_a", lit(" "), $"sym_b", lit(" ")).as(s"p$r"),
          concat(lit(" "), $"sym_a", $"sym_b", lit(" ")).as(s"q$r"))
    }
    val types = Tables.fannedDocuments(spark, dir)
      .select(explode(tokens($"text")).as("w")).distinct()
      .withColumn("s", concat(lit(" "), regexp_replace($"w", "(.)", "$1 ")))
    val withMerges = mergeCols.foldLeft(types)((df, m) => df.crossJoin(broadcast(m)))
    val applied = (1 to bpeTrainRounds).foldLeft("s")(
      (acc, r) => s"replace($acc, p$r, q$r)")
    withMerges.select($"w", trim(expr(applied)).as("enc"))
  }

  /** BPE DECODE round-trip audit — the closing theorem of the tokenizer
    * loop (q117 trains, q137 encodes, this query proves the codec is
    * lossless): BPE merges are CONCATENATIVE — a merge only ever glues
    * two adjacent symbols into their concatenation — so joining the
    * encoded symbols and stripping the separators must reproduce every
    * word exactly. The query states `decode(encode(w))` per word type
    * alongside the original; the oracle derives the same relation from
    * its own independently-trained merge chain, so the HASH MATCH is the
    * round-trip theorem verified over the entire vocabulary in both
    * engines (and `round_trip` must be uniformly true — spec-asserted,
    * and self-evident to any reader of the artifact).
    *
    * Scale shape: identical to q137's type-level encode (dictionary-form
    * work, O(vocabulary) rows after one corpus tokenize for the type
    * set); decode is a per-row `replace`, no additional shuffle. */
  def bpeDecodeAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeEncodedTypes(spark, dir)
      .select($"w", $"enc")
      .select($"w",
        length($"w").cast("long").as("n_chars"),
        size(split($"enc", " ")).cast("long").as("n_bpe"),
        expr("replace(enc, ' ', '')").as("decoded"))
      .withColumn("round_trip", $"decoded" === $"w")
      .orderBy($"w")
  }

  /** PMI support threshold and per-doc distinct-token cap, shared with
    * the q111 oracle SQL. */
  val pmiMinSupport = 5
  val pmiTokenCap = 15

  /** Top collocations by pointwise mutual information — the
    * phrase-mining / tokenizer-vocabulary signal: which token pairs
    * co-occur in documents far more often than their independent rates
    * predict (`PMI = ln(N·c(a,b) / (df(a)·df(b)))`, document-level
    * probabilities).
    *
    * Scale shape: per-document candidate sets are DISTINCT tokens,
    * sorted and CAPPED per row ([[pmiTokenCap]]) — so the pair fan-out
    * is a per-row expression bounded by cap²/2 pairs per document, never
    * a per-doc self-join shuffle and never quadratic in document length.
    * Document frequencies and pair counts are keyed aggregations with
    * map-side combine; the support filter ([[pmiMinSupport]]) cuts the
    * pair table BEFORE its dimension joins; top-N is TakeOrdered. The
    * sorted-distinct cap is the determinism contract: both engines slice
    * the same canonical token list, so capping never disagrees. */
  def pmiTopPairs(spark: SparkSession, dir: String,
                  cap: Int = pmiTokenCap, minSupport: Int = pmiMinSupport,
                  topN: Int = 20): DataFrame = {
    import spark.implicits._
    val dt = graft.CacheGuard.barrier(
      Tables.documents(spark, dir)
        .select($"doc_id",
          slice(array_sort(array_distinct(tokens($"text"))), 1, cap).as("ts")))
    val nDocs = Tables.documents(spark, dir)
      .select(count(lit(1)).as("n_docs"))
    val df_ = dt.select(explode($"ts").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("df"))
    // all i<j pairs of the sorted-distinct capped set, per row: element i
    // (0-based) pairs with the slice starting at 1-based position i+2
    val pairs = dt.select(explode(flatten(transform($"ts", (x, i) =>
        transform(slice($"ts", i + lit(2), size($"ts")),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= minSupport)
    pairs
      .join(df_.select($"t".as("a"), $"df".as("df_a")), "a")
      .join(df_.select($"t".as("b"), $"df".as("df_b")), "b")
      .crossJoin(broadcast(nDocs))
      .select($"a", $"b", $"n_ab", $"df_a", $"df_b",
        Quant.r4(round(log($"n_ab".cast("double") * $"n_docs" / // round-ok: ulp-snap on ln before quantize (round-7 discipline)
          ($"df_a".cast("double") * $"df_b")), 8)).as("pmi"))
      .orderBy($"pmi".desc, $"a", $"b")
      .limit(topN)
  }

  /** Repetition thresholds shared with the q130 oracle and spec: Gopher
    * flags documents whose duplicate-bigram mass or single most-frequent
    * token dominates (Rae et al. 2021 table A1 uses 0.2 / 0.3-class
    * cutoffs; these are tuned to the synthetic word-salad corpus so both
    * branches of the flag are exercised). */
  val dupBigramMax = 0.60
  val topTokenMax = 0.12

  /** Gopher REPETITION filters (the half of the rule table q60 doesn't
    * cover): per document, the fraction of word-bigrams/trigrams that are
    * duplicates of an earlier one, and the share of the single most
    * frequent token — boilerplate, keyword-stuffing and degenerate-decode
    * detectors. All per-row array expressions (tokenize → shingle →
    * distinct-count arithmetic), zero shuffle: at 100 TB this runs as a
    * map-only pass exactly like q25–q29.
    *
    * The top-token share scans the distinct set per row (O(u·n) with
    * n ≈ doc tokens — bounded, corpus-size-independent work per row);
    * fractions are exact integer ratios rounded once, so both engines
    * agree bit-for-bit. Mirrors the reference's per-document quality
    * gating (`parser_media_articles.py:83-84`) taken to Gopher fidelity. */
  def repetitionRatios(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    def dupFrac(grams: org.apache.spark.sql.Column) =
      when(size(grams) <= 0, 0.0).otherwise(
        Quant.r4((size(grams) - size(array_distinct(grams))).cast("double") /
          size(grams).cast("double")))
    val topCnt = array_max(transform(array_distinct($"tk"),
      t => size(filter($"tk", x => x === t))))
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", toks.as("tk"))
      .select(
        $"doc_id", $"lang",
        size($"tk").cast("long").as("n_tokens"),
        dupFrac(wordShingles($"tk", 2)).as("dup_bigram_frac"),
        dupFrac(wordShingles($"tk", 3)).as("dup_trigram_frac"),
        when(size($"tk") === 0, 0.0).otherwise(
          Quant.r4(topCnt.cast("double") / size($"tk").cast("double")))
          .as("top_token_frac"))
      .withColumn("flagged",
        $"dup_bigram_frac" > dupBigramMax || $"top_token_frac" > topTokenMax)
      .orderBy($"doc_id")
  }

  /** Deterministic synthetic URL for a document — the corpus has no URL
    * column, so one is derived from (source, lang, doc_id); shared with
    * the q135 oracle so host parsing is exercised on identical inputs. */
  def syntheticUrl(spark: SparkSession): org.apache.spark.sql.Column = {
    import spark.implicits._
    concat(lit("https://"), $"source", ($"doc_id" % 7).cast("string"),
      lit(".example.com/"), $"lang", lit("/doc-"), $"doc_id".cast("string"),
      lit(".html?ref=feed"))
  }

  /** Per-document host relation (synthetic URL → `parse_url` HOST),
    * shared by q135's rollup and q189's crawl planner. */
  def hostOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("url", syntheticUrl(spark))
      .withColumn("host", parse_url($"url", lit("HOST")))
  }

  /** Per-HOST corpus reputation rollup — the domain-level view every web
    * pipeline maintains (CCNet/RefinedWeb gate documents by source-domain
    * statistics before any per-document scoring). Host and path come from
    * Spark's native `parse_url` (codegen'd, per-row); the aggregate is
    * one partial-first hash aggregation keyed on host — shuffle volume
    * O(hosts), never O(documents). The oracle re-derives host/path with
    * regexes, so the match also cross-checks `parse_url` against an
    * independent parse. */
  def urlHostStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("url", syntheticUrl(spark))
      .select(
        parse_url($"url", lit("HOST")).as("host"),
        (size(split(parse_url($"url", lit("PATH")), "/")) - 1)
          .cast("long").as("path_depth"),
        $"lang", $"n_chars")
      .groupBy($"host")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        max($"path_depth").as("max_depth"),
        Quant.r4(avg($"n_chars".cast("double"))).as("avg_chars"))
      .orderBy($"host")
  }

  /** Quantile rank (in percent) for [[sourceQualityFloor]]'s per-source
    * threshold, shared with the q168 oracle and spec. */
  val floorQuantilePct = 25

  /** Per-SOURCE adaptive quality floor — the "every domain keeps its
    * best 75%" gate (FineWeb/CCNet filter per dump/domain with
    * per-partition thresholds, because one global cutoff either guts
    * clean sources or passes everything from dirty ones): per source,
    * the discrete p25 of the q26 quality score, and the keep/drop mass
    * that floor induces. The threshold table (O(sources) rows) is the
    * production artifact — at 100 TB it broadcasts back into the
    * per-document keep filter, the q61-style broadcast-gate shape.
    *
    * The quantile is EXACT without any per-group sort: scores land on
    * the integer 1e-4 grid ([[qualityExpr]] rounds to 4 decimals, so
    * `floor(q·1e4 + 0.5)` recovers the grid point losslessly), one
    * (source, unit)-keyed aggregation builds the value-frequency
    * table, and the cumulative window runs over THAT — O(sources ×
    * distinct scores) rows, never the corpus (the q84 two-phase rank
    * discipline; contrast `percentile` whose per-group state is the
    * group itself, q68's documented swap-to-sketch). threshold =
    * smallest grid value with cumulative count ≥ ⌈q·n⌉ — pure integer
    * comparisons end to end, so the hash match is exact by
    * construction, not by rounding luck. */
  def sourceQualityFloor(spark: SparkSession, dir: String,
                         pct: Int = floorQuantilePct): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val freq = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stop", stopwordCount(toks, stopwords).cast("long"))
      .select($"source",
        floor(qualityExpr($"n_tokens", $"n_stop") * 1e4 + lit(0.5))
          .cast("long").as("u"))
      .groupBy($"source", $"u").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"u")
    val cum = freq
      .withColumn("cum", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
    val thr = cum
      .filter($"cum" * 100 >= $"n" * pct)
      .groupBy($"source").agg(min($"u").as("thr_u4"), max($"n").as("n_docs"))
    freq.join(thr, "source")
      .groupBy($"source")
      .agg(
        max($"thr_u4").as("thr_u4"),
        max($"n_docs").as("n_docs"),
        sum(when($"u" >= $"thr_u4", $"cnt").otherwise(0L)).as("n_kept"))
      .select($"source", $"n_docs", $"thr_u4", $"n_kept",
        ($"n_docs" - $"n_kept").as("n_dropped"),
        Quant.r4($"n_kept".cast("double") / $"n_docs".cast("double"))
          .as("kept_rate"))
      .orderBy($"source")
  }

  /** Fixed alphabet for the q184 entropy filter — shared with the oracle
    * renderer in SparkEntry so the bucket set cannot diverge. */
  val entropyAlphabet: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString) :+ " "

  /** Character-entropy gibberish filter — the cheap information-theoretic
    * screen that catches encoding garbage, binary spew and single-char
    * floods which length/stopword heuristics (q26/q60) miss: Shannon
    * entropy of the per-document character distribution over a fixed
    * 37-bucket alphabet (a–z, 0–9, space) plus an `other` bucket,
    * H = log2(n) − Σ c·log2(c) / n.
    *
    * The per-char counts use the length-difference trick —
    * `length(t) − length(replace(t, ch, ''))` — so the histogram is 37
    * codegen'd string scans per row instead of a corpus-sized character
    * explode: the operator stays a pure per-row pass with NO shuffle
    * except the deterministic output order, and at 100 TB it fuses into
    * whatever scan precedes it.
    *
    * Cross-engine arithmetic: every `log2` is snapped with `round(·, 8)`
    * before use (the documented 1-ulp transcendental guard), the Σ folds
    * the buckets in one fixed literal order (both engines evaluate the
    * `+` chain left-associatively over identical doubles), and the final
    * entropy and other-ratio are 1e-4-quantized. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val txt = lower(coalesce($"text", lit("")))
    val cntCols = entropyAlphabet.zipWithIndex.map { case (ch, i) =>
      (length(txt) - length(replace(txt, lit(ch), lit(""))))
        .cast("long").as(s"c_$i")
    }
    val base = Tables.documents(spark, dir)
      .select($"doc_id" +: length(txt).cast("long").as("len") +: cntCols: _*)
    def term(c: org.apache.spark.sql.Column) =
      when(c > 0, c.cast("double") * round(log2(c.cast("double")), 8)) // round-ok: ulp-guard on log2
        .otherwise(lit(0.0))
    val alphaSum = entropyAlphabet.indices
      .map(i => col(s"c_$i")).reduceLeft(_ + _)
    val other = ($"len" - alphaSum).as("n_other")
    val s = (entropyAlphabet.indices.map(i => term(col(s"c_$i"))) :+
      term($"len" - alphaSum)).reduceLeft(_ + _)
    val entropy = when($"len" > 0,
      Quant.r4(round(log2($"len".cast("double")), 8) - s / $"len".cast("double"))) // round-ok: ulp-guard on log2
      .otherwise(lit(0.0))
    base.select($"doc_id", $"len", other,
        entropy.as("entropy"),
        when($"len" > 0,
          Quant.r4(($"len" - alphaSum).cast("double") / $"len".cast("double")))
          .otherwise(lit(0.0)).as("other_ratio"))
      .withColumn("flagged", $"entropy" < 4.0)
      .orderBy($"doc_id")
  }

  /** Language-ID confusion matrix — the evaluation artifact for q25's
    * classifier: declared `lang` × predicted bucket with cell counts and
    * per-language shares. In a curation pipeline this is the drift alarm
    * for the language router (a source whose declared language stops
    * matching its predicted distribution is mislabeled or compromised).
    * Scale shape: the per-row q25 scoring collapses straight into an
    * O(langs × buckets) aggregate with map-side partials; the per-lang
    * totals come from the cell relation itself (O(langs)) and broadcast
    * back — one corpus scan total. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = langId(spark, dir)
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy($"lang").agg(sum($"n").as("n_lang"))
    cells.join(broadcast(totals), "lang")
      .select($"lang", $"predicted", $"n", $"n_lang",
        Quant.r4($"n".cast("double") / $"n_lang".cast("double")).as("share"))
      .orderBy($"lang", $"predicted")
  }

  /** Preference-pair mining — the DPO/RLHF data-prep step: within each
    * source group, elect the highest-quality document as `chosen` and the
    * lowest as `rejected` (q26's composite score, one source of truth),
    * emitting the pair with its quality margin. Groups whose extremes tie
    * produce no pair (a zero-margin pair teaches nothing).
    *
    * Why no window: `row_number() OVER (PARTITION BY source)` shuffles
    * every scored document through the source exchange before the rank
    * filter. Both extremes here are argmax/argmin encoded as `max/min`
    * over an ordered struct — a plain hash aggregate whose state is ONE
    * struct per source per map partition, so the exchange carries
    * O(partitions × sources) rows no matter the corpus size.
    *
    * Tie-breaks are total: chosen = (quality DESC, doc_id ASC) via
    * `max(struct(q, -doc_id))`, rejected = (quality ASC, doc_id ASC) via
    * `min(struct(q, doc_id))` — struct comparison is lexicographic in
    * both engines' oracle forms. The margin subtracts two 1e-4-quantized
    * doubles (one IEEE op, bit-identical cross-engine) and re-quantizes. */
  def preferencePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stop", stopwordCount(toks, stopwords).cast("long"))
      .select($"source", $"doc_id",
        qualityExpr($"n_tokens", $"n_stop").as("q"))
      .groupBy($"source")
      .agg(
        max(struct($"q".as("q"), (-$"doc_id").as("neg_id"))).as("best"),
        min(struct($"q".as("q"), $"doc_id".as("doc_id"))).as("worst"))
      .filter($"best.q" > $"worst.q")
      .select($"source",
        (-$"best.neg_id").as("chosen_id"),
        $"best.q".as("chosen_quality"),
        $"worst.doc_id".as("rejected_id"),
        $"worst.q".as("rejected_quality"),
        Quant.r4($"best.q" - $"worst.q").as("margin"))
      .orderBy($"source")
  }

  /** Deterministic MESSY synthetic URL — [[syntheticUrl]]'s adversarial
    * twin for the canonicalization operator: host case flips on doc_id%3,
    * tracking params (utm_source / fbclid) interleave with the two kept
    * params in doc_id-dependent ORDER, a trailing slash rides doc_id%2,
    * and a fragment rides doc_id%4. `doc_id div 5` in the path makes ~5
    * raw variants collapse per canonical page, so dedup has real work. */
  def messyUrl(spark: SparkSession): org.apache.spark.sql.Column = {
    import spark.implicits._
    val block = expr("doc_id div 5")
    val host = concat(lit("site"), (block % 13).cast("string"),
      lit(".Example.COM"))
    val page = concat(lit("p="), (block % 3).cast("string"))
    val sess = concat(lit("s="), (block % 4).cast("string"))
    val junk = when($"doc_id" % 2 === 0, lit("utm_source=news"))
      .otherwise(lit("fbclid=xyz"))
    concat(lit("https://"),
      when($"doc_id" % 3 === 0, upper(host)).otherwise(host),
      lit("/posts/doc-"), block.cast("string"), lit(".html"),
      when($"doc_id" % 2 === 0, lit("/")).otherwise(lit("")),
      lit("?"),
      when($"doc_id" % 5 < 2, concat_ws("&", junk, page, sess))
        .otherwise(concat_ws("&", sess, junk, page)),
      when($"doc_id" % 4 === 0, lit("#sec1")).otherwise(lit("")))
  }

  /** Canonical form of a URL: fragment stripped, host lowercased,
    * trailing path slash removed, tracking params (utm_*, fbclid, ref)
    * dropped, surviving query params sorted bytewise. Pure per-row
    * column work — `parse_url` + one regexp + array ops, no UDF. */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val host = lower(parse_url(noFrag, lit("HOST")))
    val path = regexp_replace(parse_url(noFrag, lit("PATH")), "/$", "")
    val q = coalesce(parse_url(noFrag, lit("QUERY")), lit(""))
    val kept = array_join(sort_array(filter(split(q, "&"),
      p => !p.rlike("^(utm_|fbclid=|ref=)"))), "&")
    concat(lit("https://"), host, path,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** Per-source top-k exemplar selection — the few-shot/SFT curation
    * step that picks each source's k best documents by the q26 quality
    * score (q182's preference extremes generalized from best-1/worst-1
    * to a ranked best-k slate). The ranking rides the bounded
    * [[graft.functions.TopK]] aggregator, NOT a `row_number` window:
    * the window form shuffles every scored document through the source
    * exchange before its `rk <= k` filter, while the aggregator reduces
    * each map partition to ≤ k candidates per source first, so the
    * exchange carries O(partitions × sources × k) buffer rows (the q22
    * serving argument applied to curation; plan-asserted no-Window).
    * Ties break (score desc, doc_id asc) — the aggregator's total
    * order, mirrored in the oracle's ORDER BY. */
  def sourceExemplars(spark: SparkSession, dir: String,
                      k: Int = 3): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    Tables.documents(spark, dir)
      .select($"source", $"doc_id",
        floor(qualityExpr(size(toks).cast("long"),
          stopwordCount(toks, stopwords).cast("long")) * 1e4 + lit(0.5))
          .cast("long").as("q_u4"))
      .groupBy($"source")
      .agg(graft.functions.TopK.topK(k)($"q_u4".cast("double"), $"doc_id")
        .as("top"))
      .select($"source", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast("long").as("rank"),
        $"col.vec_id".as("doc_id"),
        $"col.cos_sim".cast("long").as("q_u4"))
      .orderBy($"source", $"rank")
  }

  /** Cross-source quantile normalization — percent-rank calibration of
    * the q26 quality score WITHIN each source, so scores become
    * comparable ACROSS sources (a 0.6 from a clean wiki dump and a 0.6
    * from a spam-heavy crawl mean different things; their per-source
    * percentile ranks mean the same thing — the calibration step between
    * q168's per-source floor and any global ranking/mixing decision).
    * prank = (# strictly smaller in the same source) / (n − 1), held as
    * exact integer basis points.
    *
    * Scale shape — the q168 discipline a third time: scores live on the
    * integer 1e-4 grid, so the rank table is the (source, unit)
    * value-frequency relation with a cumulative window over O(sources ×
    * distinct scores) rows; documents join that table broadcast on
    * (source, unit) — `percent_rank()` over the corpus would sort every
    * document through the source exchange instead. */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val docs = graft.CacheGuard.barrier(Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        floor(qualityExpr(size(toks).cast("long"),
          stopwordCount(toks, stopwords).cast("long")) * 1e4 + lit(0.5))
          .cast("long").as("q_u4")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"q_u4")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy($"source")
    val tbl = docs.groupBy($"source", $"q_u4")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(wAll))
      .select($"source", $"q_u4", ($"cum" - $"cnt").as("below"), $"n")
    docs.join(broadcast(tbl), Seq("source", "q_u4"))
      .select($"doc_id", $"source", $"q_u4", $"n".as("n_source"),
        expr("below * 10000 div greatest(n - 1, 1)").as("prank_bp"))
      .orderBy($"doc_id")
  }

  /** Declared query: URL canonicalization + canonical-group dedup — the
    * crawl-frontier normalization every web pipeline runs BEFORE fetch
    * dedup (RFC 3986 normalization plus the tracking-param strip;
    * without it every utm-tagged share of the same page fetches again).
    * Per canonical URL: raw-variant volume, distinct raw spellings, and
    * the min-doc_id keeper — the q45 URL-strip dedup upgraded from
    * "strip the query wholesale" to param-aware rewriting that PRESERVES
    * meaningful params (p, s here) while collapsing case/order/tracking
    * noise.
    *
    * Scale shape: canonicalization is per-row codegen'd column work
    * riding the scan; the rollup is one canonical-url-keyed aggregation
    * with map-side partials — shuffle O(canonical pages), never a
    * self-join of raw URLs. */
  def urlCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("url", messyUrl(spark))
      .select($"doc_id", $"url", canonicalUrl($"url").as("canonical_url"))
      .groupBy($"canonical_url")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct($"url").as("n_spellings"),
        min($"doc_id").as("keeper_doc"))
      .orderBy($"canonical_url")
  }

  /** Number of growth-curve checkpoints (corpus deciles in doc_id
    * order — ids are dense from the generator, so id deciles are
    * arrival deciles). */
  val vocabDeciles = 10

  /** VOCABULARY GROWTH CURVE (q251) — Heaps' law measured, not assumed:
    * at each corpus decile (in arrival order), the cumulative token
    * count, the cumulative DISTINCT token count, the decile's newly
    * seen types, and the exact type–token ratio in 1e-4 units. The
    * artifact a tokenizer/vocab decision reads before committing to a
    * vocab size at 100× the sample: V(T) ≈ kT^β means the curve's
    * log-log slope predicts vocabulary at the target scale, and the
    * NEW-types column shows whether the tail is flattening (closed
    * vocabulary) or not (open — plan for byte fallback). Fitting is the
    * consumer's job; the engine emits exact integer pairs only, so the
    * hash match never rides a float fit.
    *
    * Scale shape: one token explode → min(doc_id) per type (the only
    * corpus-sized shuffle, keyed by token); checkpoint assignment is
    * per-row integer arithmetic against a broadcast 1-row total; the
    * cumulative pass is a window over the O(deciles) rollup — never the
    * corpus. The distinct-so-far trick: a type counts at decile d iff
    * its FIRST occurrence lands ≤ d, so no per-checkpoint re-distinct. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val total = docs.agg(count(lit(1)).as("n_docs"))
    def decile(name: String) =
      least(expr(s"$name * $vocabDeciles div n_docs"),
        lit(vocabDeciles - 1))
    val perDoc = docs.crossJoin(broadcast(total))
      .select(decile("doc_id").as("decile"),
        size(tokens($"text")).cast("long").as("nt"))
    val tokCum = perDoc.groupBy($"decile")
      .agg(count(lit(1)).as("n_docs_dec"), sum($"nt").as("nt_dec"))
    val firstSeen = docs
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .groupBy($"tok").agg(min($"doc_id").as("first_doc"))
      .crossJoin(broadcast(total))
      .select(decile("first_doc").as("decile"))
      .groupBy($"decile").agg(count(lit(1)).as("new_types"))
    val grid = spark.range(vocabDeciles).select($"id".cast("int").as("decile"))
    val w = Window.orderBy($"decile")  // global-window-ok: O(deciles)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(tokCum, Seq("decile"), "left")
      .join(firstSeen, Seq("decile"), "left")
      .select($"decile",
        coalesce($"n_docs_dec", lit(0L)).as("n_docs_dec"),
        coalesce($"nt_dec", lit(0L)).as("nt_dec"),
        coalesce($"new_types", lit(0L)).as("new_types"))
      // O(deciles) rows: the global window runs over ≤10 rows by
      // construction — documented tiny-window exception
      .select($"decile", $"new_types",
        sum($"n_docs_dec").over(w).as("n_docs_cum"),
        sum($"nt_dec").over(w).as("n_tokens_cum"),
        sum($"new_types").over(w).as("vocab_cum"))
      .select($"decile", $"n_docs_cum", $"n_tokens_cum", $"vocab_cum",
        $"new_types",
        expr("vocab_cum * 10000 div greatest(n_tokens_cum, 1)").as("ttr_u4"))
      .orderBy($"decile")
  }

  /** VOCABULARY DRIFT BETWEEN SNAPSHOTS (q255) — the tokenizer-health
    * monitor across corpus versions: under the q92 v2-snapshot
    * convention (every 5th doc dropped, every 7th edited, every 11th
    * re-added), the type-set diff between v1 and v2 — types born, types
    * dead, the surviving overlap, the exact vocabulary Jaccard in u4,
    * and the token-volume shift. A tokenizer frozen on v1 meets v2's
    * born types as byte-fallback fragments; this query prices that
    * before the training run does.
    *
    * Scale shape: one token explode per snapshot → ONE groupBy(token)
    * carrying two presence counters (partial-aggregable) → an O(1)-row
    * rollup; no type-set join, no distinct-per-side passes. */
  def vocabDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val v2 = docs.filter($"doc_id" % 5 =!= 4)
      .select($"doc_id",
        when($"doc_id" % 7 === 0,
          concat(coalesce($"text", lit("")), lit(" v2-edit")))
          .otherwise($"text").as("text"))
      .unionByName(docs.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 300000L).as("doc_id"), $"text"))
    def toks(df: DataFrame, side: String) = df
      .select(explode(tokens($"text")).as("tok"))
      .select($"tok", lit(side).as("side"))
    val perType = toks(docs, "v1").unionByName(toks(v2, "v2"))
      .groupBy($"tok")
      .agg(sum(when($"side" === "v1", 1L).otherwise(0L)).as("c1"),
        sum(when($"side" === "v2", 1L).otherwise(0L)).as("c2"))
    perType.agg(
        sum(when($"c1" > 0, 1L).otherwise(0L)).as("n_types_v1"),
        sum(when($"c2" > 0, 1L).otherwise(0L)).as("n_types_v2"),
        sum(when($"c1" === 0 && $"c2" > 0, 1L).otherwise(0L))
          .as("n_born_types"),
        sum(when($"c1" > 0 && $"c2" === 0, 1L).otherwise(0L))
          .as("n_dead_types"),
        sum(when($"c1" > 0 && $"c2" > 0, 1L).otherwise(0L))
          .as("n_shared_types"),
        count(lit(1)).as("n_union_types"),
        sum($"c1").as("tokens_v1"), sum($"c2").as("tokens_v2"))
      .select($"n_types_v1", $"n_types_v2", $"n_born_types",
        $"n_dead_types", $"n_shared_types",
        expr("n_shared_types * 10000 div n_union_types")
          .as("vocab_jaccard_u4"),
        $"tokens_v1", $"tokens_v2")
  }

  /** POSITIONAL BOILERPLATE PROFILE (q264) — where in documents the
    * vocabulary collapses: per relative-position decile (token position
    * ×10 div doc length), the corpus-wide token volume, distinct-type
    * count, and the TOP token with its share in exact u4. Boilerplate
    * headers/footers show up as leading/trailing deciles whose top
    * share spikes and type count craters (every page opens or closes
    * with the same template tokens) — the profile that decides whether
    * a positional trim rule is worth adding to the q154 filter
    * pipeline, and at which cutoffs. The relative decile (not absolute
    * position) is what makes the profile length-invariant.
    *
    * Scale shape: one posexplode → (decile, token) count — the only
    * corpus-sized shuffle, same key family as a term-frequency pass —
    * then an O(deciles) rollup plus an argmax join against the
    * O(deciles)-row maxima; no window over the token stream. */
  def positionalProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    // the tokenize+posexplode reads the fanned corpus (no-op on any real
    // multi-file corpus and below the size gate): measured 41 task-s on
    // ONE task at sf1b before the fan-out.
    // Lower gate than the chain default: this projection explodes EVERY
    // token with its position (~10x the chain's per-row tokenize cost),
    // so the exchange pays off at far smaller corpora — measured in-suite
    // at 5k docs: 2.56 s serial vs 0.45-0.66 s fanned; the four lighter
    // token passes measured flat-to-worse at 128 and keep the default
    val counts = Tables.fannedDocuments(spark, dir, minRowsPerCore = 128)
      .select(size(toks).cast("long").as("l"),
        posexplode(toks).as(Seq("p", "tok")))
      .select(expr("least(p * 10 div greatest(l, 1), 9)").as("rp"), $"tok")
    counts.groupBy($"rp", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"rp")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_types"),
        max(struct($"c", $"tok")).as("top"))
      .select($"rp".cast("int").as("rp"), $"n_tokens", $"n_types",
        $"top.tok".as("top_token"), $"top.c".as("top_cnt"),
        expr("top.c * 10000 div n_tokens").as("top_share_u4"))
      .orderBy($"rp")
  }

  /** DISTINCT-n DIVERSITY (q269) — the lexical-diversity panel a mixture
    * owner reads next to q251's Heaps curve: per (source, n ∈ {1,2,3}),
    * total n-grams, distinct n-grams, and the type-token ratio in exact
    * 1e-4 units. Low distinct-2/3 with healthy distinct-1 is the
    * signature of templated text (same words, same phrasings — the
    * self-BLEU symptom) and tells the mixture planner which source is
    * diversity-starved BEFORE a model memorizes its boilerplate; q251
    * cannot see this (it tracks vocabulary growth over time, not phrase
    * reuse), and q264 localizes boilerplate by position, not by rate.
    *
    * Scale shape: ONE tokenize pass and ONE explode — the three tagged
    * gram streams are built per-row (`transform` into (n, gram)
    * structs, concatenated) so the corpus is scanned once, not once
    * per n (the round-14 fix: the tagged-union form re-read and
    * re-tokenized the corpus three times) — then ONE two-level
    * aggregation — count + count(DISTINCT) by (source, n) — which
    * Spark executes as two partial-aggregable keyed passes over
    * (source, n, gram). Output is O(sources × 3); nothing else crosses
    * the exchange. */
  def distinctNgramDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Tables.fannedDocuments(spark, dir)
      .select($"source", tokens($"text").as("tk"))
      .select($"source", explode(concat($"tk",
        wordShingles($"tk", 2), wordShingles($"tk", 3))).as("gram"))
      // tokens are whitespace-split, so a gram's order is its space
      // count + 1 — no per-gram tag needs to be carried through the
      // explode (cheaper than boxing (n, gram) structs per gram)
      .select($"source", size(split($"gram", " ", 3)).as("n"), $"gram")
    // two explicit keyed stages, NOT count+count(DISTINCT) in one agg:
    // that form plans an Expand that doubles the gram stream through the
    // exchange (measured 33× on the 10× decade probe before this fix);
    // per-gram partial counts collapse map-side instead
    grams
      .groupBy($"source", $"n", $"gram").agg(count(lit(1)).as("cnt"))
      .groupBy($"source", $"n")
      .agg(sum($"cnt").as("n_grams"), count(lit(1)).as("n_distinct"))
      .select($"source", $"n", $"n_grams", $"n_distinct",
        expr("n_distinct * 10000 div greatest(n_grams, 1)").as("ttr_u4"))
      .orderBy($"source", $"n")
  }

  /** Head size for the q270 Zipf fit — the classical fit region (the
    * tail bends away from the power law and drowns the slope in
    * hapax noise); shared with the oracle. */
  val zipfHeadRanks = 100

  /** ZIPF SLOPE per source (q270) — least-squares slope of
    * ln(frequency) on ln(rank) over each source's top-[[zipfHeadRanks]]
    * unigrams: natural text sits near −1; templated/generated text runs
    * markedly shallower (tokens near-uniform) or steeper (a few tokens
    * dominate), so the slope is a one-number distribution-shape probe
    * next to q269's ratios and q184's entropy. Fisher's classic
    * observation, fit exactly as published (log-log OLS).
    *
    * Determinism discipline: ranks are assigned by (freq DESC, token) —
    * total order, no tie wobble; ln values are rounded to 1e-6 FIRST
    * (the `round(ln(x), n)`-before-quantize rule), scaled to exact
    * integer 1e-6 units, and all OLS sums run as exact BIGINT
    * arithmetic — the only float ops are the final slope/intercept
    * divisions, quantized r4. Products stay < 2^63: |x|,|y| ≤ ln(2^63)
    * ≈ 43.7 → 4.4e7 units, x·y ≤ 2e15, × 100 ranks ≤ 2e17.
    *
    * Scale shape: one keyed (source, token) count, a per-source window
    * over the value-frequency relation capped to the head (partitioned
    * by source — never global), and an O(sources) rollup. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = Tables.fannedDocuments(spark, dir)
      .select($"source", explode(tokens($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("f"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"f".desc, $"tok")
    val head = freq
      .withColumn("rnk", row_number().over(wRank))
      .filter($"rnk" <= zipfHeadRanks)
      // round(ln, 8) first (the ulp-wobble rule), THEN half-up quantize
      // to exact 1e-6 integer units — floor() on a double returns LONG
      .select($"source",
        floor(round(log($"rnk".cast("double")), 8) * 1e6 + lit(0.5)).as("x"), // round-ok: ulp-snap before 1e-6 integer quantize
        floor(round(log($"f".cast("double")), 8) * 1e6 + lit(0.5)).as("y")) // round-ok: ulp-snap before 1e-6 integer quantize
    head
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"source", $"n".as("n_ranks"),
        Quant.r4(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).as("slope"),
        Quant.r4((($"sy" - (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double")) * $"sx") /
          $"n" / lit(1e6))).as("intercept"))
      .orderBy($"source")
  }

  /** Kneser–Ney top-bigram table size, shared with the q283 oracle. */
  val knTopN = 200

  /** KNESER–NEY SMOOTHED BIGRAM TABLE (q283) — the smoothing that
    * state-of-the-art count LMs (KenLM, the CCNet filter's backend)
    * actually use, which the λ-interpolated q110 model is only a proxy
    * for: absolute discounting with a CONTINUATION back-off.
    * P_KN(w₂|w₁) = max(c(w₁w₂)−d, 0)/c(w₁·) + λ(w₁)·P_cont(w₂), with
    * λ(w₁) = d·N₁₊(w₁·)/c(w₁·) and P_cont(w₂) = N₁₊(·w₂)/|bigram
    * types|. The continuation term is the insight q110 lacks: "francisco"
    * is frequent but follows only "san", so its back-off mass is tiny
    * where a unigram back-off would overweight it — exactly the
    * distinction shown per-bigram here. d = 3/4, so every probability
    * term is exact integer micro-units: numerators scale by 4 (the
    * discount becomes −3 on 4·c) and all divisions are BIGINT `div`.
    * Output: the [[knTopN]] most frequent bigrams (count desc, bigram
    * asc — deterministic) with all five KN components.
    *
    * Scale shape: ONE tokenize pass → one (w₁,w₂)-keyed count; every
    * derived statistic (context totals, left/right continuation counts,
    * the type total) is a keyed re-aggregation OF THE COUNT TABLE —
    * O(bigram vocab), not O(corpus); the final join tree joins the
    * count table to three vocab-sized sides and one broadcast scalar.
    * TakeOrdered bounds the output. At 100 TB the corpus is touched
    * once; everything else is vocabulary-sized. */
  def knBigramTable(spark: SparkSession, dir: String,
                    topN: Int = knTopN): DataFrame = {
    import spark.implicits._
    val bg = Tables.fannedDocuments(spark, dir)
      .select(explode(wordShingles(tokens($"text"), 2)).as("bg"))
      .select(substring_index($"bg", " ", 1).as("w1"),
        substring_index($"bg", " ", -1).as("w2"))
    val c12 = graft.CacheGuard.barrier(
      bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12")))
    val ctx = c12.groupBy($"w1")
      .agg(sum($"c12").as("c1"), count(lit(1)).as("n1r"))
    val cont = c12.groupBy($"w2").agg(count(lit(1)).as("n1l"))
    val types = c12.agg(count(lit(1)).as("t_types"))
    c12.join(ctx, "w1").join(cont, "w2")
      .crossJoin(broadcast(types))
      .select($"w1", $"w2", $"c12", $"c1", $"n1r", $"n1l", $"t_types",
        expr("greatest(4 * c12 - 3, 0) * 1000000 div (4 * c1)")
          .as("pml_u6"),
        expr("3 * n1r * 1000000 div (4 * c1)").as("lambda_u6"),
        expr("n1l * 1000000 div t_types").as("pcont_u6"))
      .withColumn("pkn_u6",
        $"pml_u6" + expr("lambda_u6 * pcont_u6 div 1000000"))
      .orderBy($"c12".desc, $"w1", $"w2")
      .limit(topN)
  }

  /** Good–Turing table depth, shared with the q289 oracle. */
  val gtTopR = 64

  /** GOOD–TURING FREQUENCY RE-ESTIMATION (q289) — the third classic of
    * the count-LM line ([[knBigramTable]] smooths contexts, q270 fits
    * the rank law; this re-estimates the COUNTS themselves): for each
    * observed frequency r, the adjusted count r* = (r+1)·N_{r+1}/N_r
    * over the frequency-of-frequencies table, and the unseen-event mass
    * P₀ = N₁/N — the quantities behind Katz back-off and the standard
    * "how much probability do tokens we never saw deserve" answer. All
    * exact micro-units; rows where N_{r+1} = 0 carry `has_next = false`
    * (the raw GT estimate is undefined there — the documented reason
    * SGT smooths the tail, out of scope for the audit table).
    *
    * Scale shape: one token-keyed count (the q99/q282 shared relation),
    * then a count-of-counts over it — O(distinct frequencies) rows,
    * self-joined on r+1. The corpus is touched once; the GT table
    * itself is tiny at any scale. TakeOrdered bounds output to the
    * [[gtTopR]] smallest frequencies (where GT matters). */
  def goodTuring(spark: SparkSession, dir: String,
                 topR: Int = gtTopR): DataFrame = {
    import spark.implicits._
    val tc = graft.CacheGuard.barrier(
      Tables.documents(spark, dir)
        .select(explode(tokens($"text")).as("t"))
        .groupBy($"t").agg(count(lit(1)).as("cnt")))
    val fof = graft.CacheGuard.barrier(
      tc.groupBy($"cnt".as("r")).agg(count(lit(1)).as("n_r")))
    val tot = tc.agg(sum($"cnt").as("n_tokens"),
      count(lit(1)).as("n_types"))
    val n1 = fof.agg(
      coalesce(sum(when($"r" === 1L, $"n_r")), lit(0L)).as("n_one"))
    val nxt = fof.select(($"r" - 1L).as("r"), $"n_r".as("n_next"))
    fof.join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(n1))
      .select($"r", $"n_r", coalesce($"n_next", lit(0L)).as("n_next"),
        (coalesce($"n_next", lit(0L)) > 0L).as("has_next"),
        expr("(r + 1) * coalesce(n_next, 0) * 1000000 div n_r")
          .as("r_star_u6"),
        expr("r * n_r * 1000000 div n_tokens").as("mass_u6"),
        expr("n_one * 1000000 div n_tokens").as("p0_u6"),
        $"n_tokens", $"n_types")
      .orderBy($"r")
      .limit(topR)
  }

  /** Conformal target: at most [[confAlphaPct]]% of gate-passing
    * documents may fall below the calibrated threshold. Shared with the
    * q291 oracle. */
  val confAlphaPct = 10

  /** SPLIT-CONFORMAL GATE CALIBRATION (q291) — the principled way to
    * pick the quality-score cutoff q151's sweep only explores: split
    * the corpus by a deterministic md5 coin into calibration/test,
    * take the gate-passing CALIBRATION docs' scores, and set the
    * threshold at their empirical α-quantile (the largest t with at
    * most ⌊α·n⌋ passing scores strictly below it — exact rank
    * arithmetic on the u4 score grid, no distributional assumption).
    * Split-conformal theory then guarantees ≥ 1−α coverage of passing
    * docs on exchangeable test data; the TEST half measures realized
    * coverage AND the false-admit cost (failing docs above t) — the
    * two numbers a pipeline owner trades when turning a score into a
    * gate. One output row.
    *
    * Scale shape: one scan computes score + gate + coin per row
    * (map-side); the quantile comes from a score-level frequency table
    * (O(10⁴ grid rows) — the q84 device, never a corpus sort); the
    * coverage/false-admit counts are conditional aggregates of the
    * same scan. */
  def conformalGate(spark: SparkSession, dir: String,
                    alphaPct: Int = confAlphaPct): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.md5Hash32
    val toks = tokens($"text")
    val base = graft.CacheGuard.barrier(
      Tables.documents(spark, dir)
        .select($"doc_id", size(toks).cast("long").as("n_words"),
          length(array_join(toks, "")).cast("long").as("sum_len"),
          size(array_distinct(toks)).cast("long").as("n_dist"),
          stopwordCount(toks, stopwords).cast("long").as("n_stop"))
        .select($"doc_id", $"n_words",
          floor(qualityExpr($"n_words", $"n_stop") * 1e4 + lit(0.5))
            .cast("long").as("score_u4"),
          ($"n_words" >= gopherMinWords &&
            Quant.r4(lit(1.0) - $"n_dist".cast("double") /
              greatest($"n_words", lit(1L)).cast("double"))
              < gopherMaxDupRatio &&
            Quant.r4($"sum_len".cast("double") /
              greatest($"n_words", lit(1L)).cast("double"))
              .between(gopherMeanLen._1, gopherMeanLen._2)).as("passes"),
          (md5Hash32(concat(lit("cal:"), $"doc_id".cast("string")))
            % 2 === 0).as("is_calib")))
    val calPass = base.filter($"is_calib" && $"passes")
    val nPass = calPass.agg(count(lit(1)).as("n_cal_pass"))
    // allowed misses k = floor(alpha·n/100); threshold = the score
    // holding rank k+1 (ascending) — from the frequency table, exactly
    val levels = calPass.groupBy($"score_u4").agg(count(lit(1)).as("c"))
    val byScore = org.apache.spark.sql.expressions.Window
      .orderBy($"score_u4")  // global-window-ok: O(u4 score grid)
    val thr = levels
      .withColumn("cum_before", coalesce(sum($"c").over(
        byScore.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .crossJoin(broadcast(nPass))
      .filter($"cum_before" <= expr(s"n_cal_pass * $alphaPct div 100") &&
        $"cum_before" + $"c" > expr(s"n_cal_pass * $alphaPct div 100"))
      .select($"score_u4".as("threshold_u4"))
    val test = base.filter(!$"is_calib")
    val stats = test.crossJoin(broadcast(thr)).agg(
      sum(when($"passes", 1L).otherwise(0L)).as("n_test_pass"),
      sum(when($"passes" && $"score_u4" >= $"threshold_u4", 1L)
        .otherwise(0L)).as("n_test_pass_kept"),
      sum(when(!$"passes", 1L).otherwise(0L)).as("n_test_fail"),
      sum(when(!$"passes" && $"score_u4" >= $"threshold_u4", 1L)
        .otherwise(0L)).as("n_test_fail_admitted"))
    thr.crossJoin(broadcast(nPass)).crossJoin(broadcast(stats))
      .select($"threshold_u4", $"n_cal_pass",
        expr(s"n_cal_pass * $alphaPct div 100").as("allowed_misses"),
        $"n_test_pass", $"n_test_pass_kept",
        expr("n_test_pass_kept * 10000 div greatest(n_test_pass, 1)")
          .as("coverage_u4"),
        $"n_test_fail", $"n_test_fail_admitted",
        expr("n_test_fail_admitted * 10000 div greatest(n_test_fail, 1)")
          .as("false_admit_u4"))
  }

  /** Unigram-LM tokenizer-training knobs, shared with the q297 oracle. */
  val uniMaxWordLen = 12   // longer word types are skipped (SentencePiece
                           //   similarly bounds trainable sentence pieces)
  val uniMaxPieceLen = 3   // max piece length in the seed vocabulary
  val uniSeedMulti = 200   // multi-char seed pieces (top by count, then asc)
  /** Multi-char vocab cap per EM round — the shrink-to-target schedule;
    * size-2 == two EM iterations. Single chars are NEVER pruned. */
  val uniPruneSchedule: Seq[Int] = Seq(150, 120)

  /** UNIGRAM-LM (SentencePiece-style) TOKENIZER TRAINING (q297) — the
    * other production tokenizer school next to the BPE family
    * (q117/q137/q144): Kudo 2018's subword regularization model, here as
    * integer-exact hard-EM. Seed = all single chars plus the top
    * [[uniSeedMulti]] substrings of length ≤ [[uniMaxPieceLen]] by
    * occurrence-weighted count; each EM round Viterbi-segments every
    * word TYPE under the current piece costs (cost = −⌊ln(cnt/total)
    * snapped at 1e-8 then ×1e6⌋, the q110 ln-discipline), re-counts
    * pieces along the best paths weighted by word frequency, and prunes
    * the multi-char vocab to [[uniPruneSchedule]] (chars are never
    * pruned — coverage; unused chars keep a floor count of 1). Ties in
    * the DP break on the lexicographically smallest path string, so the
    * segmentation is engine-independent.
    *
    * The Viterbi DP is ONE `aggregate` higher-order expression per word
    * type: the accumulator carries best (cost, path) per prefix length,
    * each step takes `least` over the ≤3 candidate pieces ending there
    * (k=1 always resolves — every char is in the vocab — so the DP is
    * total). The piece-cost table rides along as a broadcast map
    * column; the oracle replays the identical DP as position-unrolled
    * CTEs with a per-word row_number argmin.
    *
    * Scale shape — exactly the q117 dictionary-iteration contract: ONE
    * corpus pass builds the (word-type, count) dictionary; the seed
    * substring count, every Viterbi pass, every re-estimate, and every
    * prune are O(vocabulary) with the piece table broadcast — at 100 TB
    * the corpus is scanned once regardless of EM rounds, and the EM
    * state is dictionary-sized. Output: the trained vocabulary (piece,
    * is_char, final expected count, cost in ln-millionths). */
  def unigramLmTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    unigramTrainedCosts(spark, dir)
      .select($"piece", (length($"piece") === 1).as("is_char"),
        $"cnt", $"cost_u6")
      .orderBy($"piece")
  }

  /** The q297 word-type dictionary (shared filters: lowercase
    * alphanumeric, length ≤ [[uniMaxWordLen]]). */
  def unigramWordDict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // leaf, not lazy barrier (round 18): the dict is referenced by the
    // seed-substring count plus every EM round's Viterbi pass — each a
    // broadcast-fed AQE leg that raced the cold cache partition-by-
    // partition. One corpus tokenize over Tables.fannedDocuments,
    // materialized exactly once.
    graft.CacheGuard.checkpointLeaf(
      Tables.fannedDocuments(spark, dir)
        .select(explode(tokens($"text")).as("w"))
        .filter($"w".rlike("^[a-z0-9]+$") &&
          length($"w") <= uniMaxWordLen)
        .groupBy($"w").agg(count(lit(1)).as("c")))
  }

  /** The Viterbi DP over a word column `w` given a broadcast piece-cost
    * map column `pm`: best (cost, path) for the full word (see
    * [[unigramLmTrain]] — ties break on the path string). */
  def viterbiBest(w: org.apache.spark.sql.Column,
                  pm: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def cand(acc: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column,
             k: Int): org.apache.spark.sql.Column = {
      val piece = substr(w, j - lit(k - 1), lit(k))
      val prev = element_at(acc, j - lit(k - 1))
      val pcost = element_at(pm, piece)
      when(j >= lit(k) && pcost.isNotNull,
        struct((prev("cost") + pcost).as("cost"),
          concat(prev("path"), piece, lit("|")).as("path")))
    }
    val vit = aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0L).as("cost"), lit("").as("path"))),
      (acc, j) => array_append(acc,
        least(cand(acc, j, 1), cand(acc, j, 2), cand(acc, j, 3))))
    element_at(vit, length(w) + 1)
  }

  /** The trained unigram vocabulary (piece, cnt, cost_u6) after the
    * full EM prune schedule — the q297 core, reused by the q298
    * encoder. */
  def unigramTrainedCosts(spark: SparkSession, dir: String): DataFrame =
    unigramTrainedCostsWith(spark, dir, uniSeedMulti, uniPruneSchedule)

  /** [[unigramTrainedCosts]] at an explicit vocabulary scale (see
    * [[unigramEncodeFertilityWith]]) — lets specs observe that the
    * scaled path genuinely trains a larger vocabulary. */
  def unigramTrainedCostsWith(spark: SparkSession, dir: String,
                              seedMulti: Int,
                              schedule: Seq[Int]): DataFrame =
    trainedCostsFromDict(spark, unigramWordDict(spark, dir),
      seedMulti, schedule)

  /** Core of [[unigramTrainedCosts]] over a CALLER-built (barriered)
    * word dictionary — q298 threads its dict through here so one query
    * holds a single barrier per relation (round-13 advice: the encoder
    * used to call [[unigramWordDict]] a second time, double-caching the
    * identical plan). `seedMulti`/`schedule` are explicit (no defaults —
    * the RegistryIntegritySpec overload discipline) so the scaled-
    * dictionary probe can grow the vocabulary 10× without touching the
    * declared q297/q298 plans. */
  private def trainedCostsFromDict(spark: SparkSession, wd: DataFrame,
                                   seedMulti: Int,
                                   schedule: Seq[Int]): DataFrame = {
    import spark.implicits._
    // Checkpoint leaves, not lazy barriers (round 18, the q137 finding):
    // the EM state relations are consumed through broadcast legs that AQE
    // materializes concurrently — lazy caches were raced cold and every
    // reference re-planned the nested tower. Each leaf is vocabulary-
    // sized, built exactly once, scanned as a 1-line leaf per reference.
    val sub = graft.CacheGuard.checkpointLeaf(wd
      .select($"w", $"c", explode(sequence(lit(1), length($"w"))).as("i"))
      .select($"w", $"c", $"i",
        explode(sequence(lit(1), lit(uniMaxPieceLen))).as("k"))
      .filter($"i" + $"k" - lit(1) <= length($"w"))
      .groupBy(substr($"w", $"i", $"k").as("piece"))
      .agg(sum($"c").as("cnt")))
    val chars = sub.filter(length($"piece") === 1)
    val multiSeed = sub.filter(length($"piece") >= 2)
      .orderBy($"cnt".desc, $"piece").limit(seedMulti)

    // cost = −⌊round(ln(cnt/total), 8)·1e6 + 0.5⌋ — integer ln-millionths
    def recost(pieces: DataFrame): DataFrame = {
      val tot = pieces.agg(sum($"cnt").as("t"))
      pieces.crossJoin(broadcast(tot))
        .select($"piece", $"cnt",
          (-floor(round(log($"cnt".cast("double") / $"t"), 8) * 1e6 + lit(0.5))) // round-ok: ulp-snap on ln before quantize (round-7 discipline)
            .cast("long").as("cost_u6"))
    }
    var pc = graft.CacheGuard.checkpointLeaf(
      recost(chars.unionByName(multiSeed)))

    for (cap <- schedule) {
      val pcMap = pc.agg(map_from_entries(
        collect_list(struct($"piece", $"cost_u6"))).as("pm"))
      val seg = wd.crossJoin(broadcast(pcMap))
        .select($"w", $"c", viterbiBest($"w", $"pm").as("b"))
        .select($"c", $"b.path".as("path"))
      val ecnt = graft.CacheGuard.checkpointLeaf(seg
        .select($"c", explode(filter(split($"path", "\\|"),
          x => x =!= lit(""))).as("piece"))
        .groupBy($"piece").agg(sum($"c").as("cnt")))
      val keepChars = chars.select($"piece")
        .join(ecnt, Seq("piece"), "left")
        .select($"piece",
          greatest(coalesce($"cnt", lit(0L)), lit(1L)).as("cnt"))
      val keepMulti = ecnt.filter(length($"piece") >= 2)
        .orderBy($"cnt".desc, $"piece").limit(cap)
      pc = graft.CacheGuard.checkpointLeaf(
        recost(keepChars.unionByName(keepMulti)))
    }
    pc
  }

  /** UNIGRAM VITERBI ENCODE + FERTILITY (q298) — the APPLY half of
    * q297 (exactly as q137 is to q117 for BPE): segment every word
    * type with the TRAINED unigram vocabulary and roll the result up
    * to per-source tokenizer-rollout numbers — encodable words, pieces
    * emitted, character mass, fertility (pieces per encodable word)
    * and compression (chars per piece). Words outside the trainable
    * class (non-[a-z0-9], or longer than [[uniMaxWordLen]]) are
    * reported as OOV — the honest accounting a rollout decision needs.
    *
    * Scale shape: the trained piece map broadcasts; encoding is one
    * Viterbi HOF over the word-TYPE dictionary; the corpus token
    * stream joins the encoded types on the word key (dictionary
    * broadcastable) and collapses to one source-keyed rollup. */
  def unigramEncodeFertility(spark: SparkSession, dir: String): DataFrame =
    unigramEncodeFertilityWith(spark, dir, uniSeedMulti, uniPruneSchedule)

  /** [[unigramEncodeFertility]] with an explicit vocabulary scale —
    * the seam `graft.Probe`'s `q298_dict_*` rows use to measure the
    * claimed O(vocabulary) EM cost by growing seed + prune schedule 10×
    * at fixed corpus size.
    * Distinct name, all params explicit (the RegistryIntegritySpec
    * overload discipline). */
  def unigramEncodeFertilityWith(spark: SparkSession, dir: String,
                                 seedMulti: Int,
                                 schedule: Seq[Int]): DataFrame = {
    import spark.implicits._
    val wd = unigramWordDict(spark, dir)
    val pc = trainedCostsFromDict(spark, wd, seedMulti, schedule)
    val pcMap = pc.agg(map_from_entries(
      collect_list(struct($"piece", $"cost_u6"))).as("pm"))
    val enc = graft.CacheGuard.barrier(
      wd.crossJoin(broadcast(pcMap))
        .select($"w", viterbiBest($"w", $"pm").as("b"))
        .select($"w",
          size(filter(split($"b.path", "\\|"), x => x =!= lit("")))
            .cast("long").as("n_pieces"),
          length($"w").cast("long").as("n_chars")))
    Tables.fannedDocuments(spark, dir)
      .select($"source", explode(tokens($"text")).as("w"))
      .join(enc, Seq("w"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_words"),
        sum(when($"n_pieces".isNotNull, 1L).otherwise(0L))
          .as("n_enc_words"),
        sum(when($"n_pieces".isNull, 1L).otherwise(0L)).as("n_oov_words"),
        sum(coalesce($"n_pieces", lit(0L))).as("n_pieces"),
        sum(coalesce($"n_chars", lit(0L))).as("n_chars"))
      .withColumn("fertility_u4",
        expr("n_pieces * 10000 div greatest(n_enc_words, 1)"))
      .withColumn("compression_u4",
        expr("n_chars * 10000 div greatest(n_pieces, 1)"))
      .orderBy($"source")
  }

  /** Brier-score decomposition (Murphy 1973) of the q26 quality score
    * as a probabilistic forecaster of the q60 Gopher gate — the
    * calibration eval q151's P/R sweep cannot express: reliability
    * (how far each forecast bin's event rate sits from the forecast —
    * the term recalibration removes), resolution (how much the bins
    * separate outcomes — the term no recalibration can add), and
    * outcome uncertainty, with brier = reliability − resolution +
    * uncertainty checked as an explicit residual of the four
    * INDEPENDENTLY-computed quantized values.
    *
    * Forecast bins are exact-integer deciles of the r4 quality score
    * (u4 = ⌊q·10⁴ + 0.5⌋ recovers the quantized integer, bin =
    * min(u4 div 1000, 9)) with bin centers f_b = (2b+1)/20, so every
    * per-bin numerator is a BIGINT: the Brier sum itself is carried
    * ×400N exactly (n_b(2b+1)² − 40(2b+1)c_b + 400c_b per bin), the
    * reliability/resolution terms are quantized to micro-units before
    * the cross-bin LONG sum (order-independent); BOTH squares are taken
    * in pinned-double divide-first form — resolution as (d/N)·(d/N)
    * because d² exceeds 2⁵³ at probe SF, reliability as
    * (rel/20)·(rel/20)/n_b because rel² ~ (19·n_b)² wraps int64 past
    * ~1.6e8 rows per bin — and uncertainty is one division of c(N−c)
    * by N².
    *
    * Scale shape: ONE scan computes both signals per document (the
    * forecast and the label share the token array), one aggregation
    * to O(10) bins, report a broadcast 1-row cross. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val feat = Tables.documents(spark, dir)
      .select(toks.as("toks"))
      .select(size($"toks").cast("long").as("n_words"),
        stopwordCount($"toks", stopwords).cast("long").as("n_stop"),
        Quant.r4(length(array_join($"toks", "")).cast("double") /
          greatest(size($"toks"), lit(1)).cast("double")).as("mean_word_len"),
        Quant.r4(lit(1.0) - size(array_distinct($"toks")).cast("double") /
          greatest(size($"toks"), lit(1)).cast("double")).as("dup_ratio"))
      .select(
        floor(qualityExpr($"n_words", $"n_stop") * lit(1e4) + lit(0.5))
          .cast("long").as("u4"),
        ($"n_words" >= gopherMinWords && $"dup_ratio" < gopherMaxDupRatio &&
          $"mean_word_len".between(gopherMeanLen._1, gopherMeanLen._2))
          .as("pass"))
      .select(least(expr("u4 div 1000"), lit(9L)).as("b"), $"pass")
    val bins = graft.CacheGuard.barrier(
      feat.groupBy($"b").agg(count(lit(1)).as("n_b"),
        sum(when($"pass", 1L).otherwise(0L)).as("c_b")))
    val tot = bins.agg(sum($"n_b").as("n"), sum($"c_b").as("c"))
    val terms = bins.crossJoin(broadcast(tot))
      .withColumn("fb_num", lit(2L) * $"b" + lit(1L)) // f_b = fb_num/20
      .withColumn("brier400", $"n_b" * $"fb_num" * $"fb_num" -
        lit(40L) * $"fb_num" * $"c_b" + lit(400L) * $"c_b")
      .withColumn("rel_num", $"fb_num" * $"n_b" - lit(20L) * $"c_b")
      // reliability squared in PINNED DOUBLE form — (rel/20)·(rel/20)/n_b —
      // because rel_num² in int64 is ~(19·n_b)² and overflows past ~1.6e8
      // rows per bin, where Spark silently wraps but DuckDB raises (the
      // same reason the resolution term divides before squaring)
      .withColumn("rel_u", floor(((($"rel_num".cast("double") / lit(20.0)) *
        ($"rel_num".cast("double") / lit(20.0))) / $"n_b".cast("double")) *
        lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("d", $"c_b" * $"n" - $"c" * $"n_b")
      .withColumn("res_u", floor(((($"d".cast("double") / $"n".cast("double")) *
        ($"d".cast("double") / $"n".cast("double"))) / $"n_b".cast("double")) *
        lit(1e6) + lit(0.5)).cast("long"))
      .groupBy()
      .agg(count(lit(1)).as("n_bins"), sum($"brier400").as("brier400"),
        sum($"rel_u").as("rel_sum"), sum($"res_u").as("res_sum"))
    terms.crossJoin(broadcast(tot))
      .withColumn("brier_u6", floor(($"brier400".cast("double") /
        (lit(400.0) * $"n".cast("double"))) * lit(1e6) + lit(0.5))
        .cast("long"))
      .withColumn("rel_u6", floor((($"rel_sum".cast("double") / lit(1e6)) /
        $"n".cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("res_u6", floor((($"res_sum".cast("double") / lit(1e6)) /
        $"n".cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("unc_u6", floor((($"c" * ($"n" - $"c")).cast("double") /
        ($"n".cast("double") * $"n".cast("double"))) * lit(1e6) + lit(0.5))
        .cast("long"))
      .select($"n".as("n_docs"), $"c".as("n_pass"), $"n_bins",
        (floor(($"c".cast("double") / $"n".cast("double")) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("base_rate"),
        ($"brier_u6".cast("double") / lit(1e6)).as("brier"),
        ($"rel_u6".cast("double") / lit(1e6)).as("reliability"),
        ($"res_u6".cast("double") / lit(1e6)).as("resolution"),
        ($"unc_u6".cast("double") / lit(1e6)).as("uncertainty"),
        ($"brier_u6" - ($"rel_u6" - $"res_u6" + $"unc_u6"))
          .as("identity_residual_u6"))
  }
}
