package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library facade: the one import a user of the engine needs.
  *
  * The engine's 316 declared queries (`SparkEntry.queries`) are the
  * EVIDENCE surface — each is a composed, DuckDB-oracled example of the
  * operators below. A consuming team programs against the operator
  * objects, which this facade groups by family with stable names; every
  * family's correctness evidence (query ids + ScalaTest suites) and
  * 100 TB scale rationale (SCALE.md / BASELINE.md sections) are noted
  * per member so "is this safe at scale" is answerable from the
  * scaladoc alone.
  *
  * Session setup: activate the native Catalyst expression pack for SQL
  * users with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * (DataFrame callers get them via [[graft.functions.native]] without
  * it), and keep `spark.sql.shuffle.partitions` sized to the cluster —
  * the harness mains ([[Verify]], [[Bench]]) show the reference
  * configuration. Most operators take `(SparkSession, dir)` where `dir`
  * holds the parquet tables ([[Tables]] for schemas/readers); the
  * `*Over(df)` variants accept arbitrary relations with the same
  * columns.
  *
  * {{{
  * import graft.Graft
  * val keepers = Graft.dedup.nearDupKeepers(spark, dir)      // q67
  * val topk    = Graft.ann.bruteForceTopK(spark, dir)        // q22
  * val gated   = Graft.curation.curatedStream(...)           // q166
  * val q       = Graft.query("q172_hybrid_rrf")(spark, dir)  // by id
  * }}}
  */
object Graft {

  /** Ingestion: the reference pipelines re-expressed (Reddit zstd-NDJSON
    * scan q33, paginated REST source q32 — a DSv2 micro-batch source
    * whose checkpoint IS the page cursor, HTML article extraction
    * q31/q43, CSV round trips q46, binary sink with politeness throttle
    * q34, keyword/allowlist/date filters q01–q09). Specs:
    * `ZstNdjsonSpec`, `PageFeedSpec`, `HtmlArticlesSpec`,
    * `IngestPipelinesSpec`. */
  object ingest {
    val pipelines: operators.IngestPipelines.type = operators.IngestPipelines
    val zstNdjson: sources.ZstNdjson.type = sources.ZstNdjson
    val pagedJson: sources.PagedJson.type = sources.PagedJson
    val htmlArticles: sources.HtmlArticles.type = sources.HtmlArticles
    val csv: sources.CsvRoundTrip.type = sources.CsvRoundTrip
    val binarySink: sources.BinarySink.type = sources.BinarySink
    val columnar: sources.ColumnarRoundTrip.type = sources.ColumnarRoundTrip
  }

  /** Relational core: TPC-H-style aggregates/joins/rollups (q12–q17,
    * q44, q193), SCD2 + point-in-time joins (q100/q126), GDPR cascade
    * (q125), pivot/unpivot (q192), date/scalar function kit (q11).
    * Spec: `RelationalSpec`. */
  val relational: operators.Relational.type = operators.Relational

  /** Dedup: exact fingerprint (q18), MinHash+LSH banding (q55, md5
    * family, recall spec-pinned), n-gram Jaccard (q20),
    * SimHash (q21/q159), keeper election via connected components
    * (q67), leakage-safe splits (q81), incremental/Bloom/TTL gates
    * (q88/q74/q127), dedup-then-audit compositions (q175/q178 — the
    * measured 100 TB path where the uncomposed exact joins are
    * Ω(answer)), policy/savings reports (q174/q229/q240), fragment
    * stitching (q272), cluster cohesion (q273), winnowing fingerprints
    * (q275), content-defined chunking (q276), blocking-quality and
    * S-curve audits (q277/q278), B-cubed cluster evaluation (q290).
    * Specs: `DedupSpec`, `ComponentsSpec`; scale: BASELINE.md decade
    * table. */
  val dedup: operators.DedupOps.type = operators.DedupOps

  /** Similarity search over `embeddings`: brute-force cosine top-k
    * (q22), batched serving (q42), LSH (q23), trained IVF (q35/q69),
    * PQ + ADC (q85/q86), IVF-PQ composed (q179), kNN join (q53),
    * SemDeDup (q82), D4 prototype pruning (q280), recall/MRR/NDCG
    * audits (q93/q121), mining (hard negatives q112, bitext margin
    * q176, reciprocal NN q286, triplets q222). All
    * top-k via the bounded `TopKAgg` — no corpus Window (plan-asserted).
    * Spec: `AnnSearchSpec`, `MiningOpsSpec`. */
  val ann: operators.AnnSearch.type = operators.AnnSearch

  /** Embedding-mining extensions (bitext margin q176, posting lists
    * q177, contrastive triplets q222). Spec: `MiningOpsSpec`. */
  val mining: operators.MiningOps.type = operators.MiningOps

  /** Text analysis: language-ID (q25), quality + Gopher rules
    * (q26/q60/q130), unigram/bigram LM scoring (q71/q110), Kneser–Ney
    * smoothing (q283), Good–Turing re-estimation (q289), conformal
    * gate calibration (q291), Brier-score decomposition of the quality
    * forecaster (q315), CCNet terciles (q145), PII redaction
    * (q59), BPE train/encode/decode (q117/q137/q144), TF-IDF (q50),
    * PMI (q111), entropy (q184), TextRank (q211). Spec:
    * `TextAnalysisSpec`. */
  val text: operators.TextAnalysis.type = operators.TextAnalysis

  /** Corpus construction: sampling (q49/q66/q115), mixtures
    * (q70/q155/q164), packing (q73), chunking (q87), shards (q84),
    * epoch-reshuffle audit (q310 — per-row hash re-keying, no global
    * sort), decontamination (q61/q133/q157), diff/merge/IVM
    * (q80/q95/q105), splits (q195), manifests (q186). Spec:
    * `CorpusOpsSpec`. */
  val corpus: operators.CorpusOps.type = operators.CorpusOps

  /** Retrieval: BM25 (q167), Dirichlet query likelihood (q296), hybrid
    * RRF (q172), PRF/Rocchio (q221), phrase search (q214) —
    * integer-rational scoring, bounded top-k.
    * (BM25/retrieval members live in [[corpus]]'s `CorpusOps`.) */
  val retrieval: operators.CorpusOps.type = operators.CorpusOps

  /** Sketches: HLL (q65/q108/q119/q205), Count-Min (q99/q104), KMV
    * intersection + A-not-B (q131/q288), AMS F2 (q282), mergeable
    * quantiles (q142), Misra–Gries (q191) — ≤256 registers / bottom-k
    * cross the exchange. Spec: `SketchesSpec`. */
  val sketches: operators.Sketches.type = operators.Sketches

  /** Graph analytics over the similarity/event graphs: connected
    * components (q48; large/small-star contraction q316 — O(log n)
    * rounds on deep chains where min-label propagation pays
    * O(diameter)), PageRank (q98, integer-exact), LPA (q116),
    * triangles (q97), k-core (q185), HITS (q209), PPR (q206), BFS
    * (q217), modularity (q227), thread trees by pointer doubling
    * (q190), incremental CC maintenance (q279 — delta edges contracted
    * through base labels, CC on the label-level graph only), Louvain
    * move audit (q281, exact 2m²-scaled gains), local clustering
    * coefficients (q285). One keyed shuffle per round, lineage cuts.
    * Spec: `ComponentsSpec`. */
  val graph: operators.Components.type = operators.Components

  /** Warehouse/product analytics: funnels (q101/q224), cohorts (q107),
    * burst detection (q181), trending (q196), A/B chi-square (q212),
    * attribution (q207/q245), EWMA (q220), streaks (q215), target
    * encoding (q218), feature hashing (q219), and the eval/annotation
    * statistics kit (Bradley–Terry q311, Fleiss' κ q312, pass@k q313,
    * Krippendorff's α q314). Spec: `AnalyticsSpec`. */
  val analytics: operators.Analytics.type = operators.Analytics

  /** Data-quality gates: per-column profiler (q83/q91), expectation
    * suite (q208), k-anonymity (q210), entropy l-diversity +
    * t-closeness (q309), randomized-response local-DP audit (q287),
    * functional dependencies (q237), exact Spearman/Pearson (q238),
    * coverage matrix (q244). Spec: `ProfilerSpec`. */
  val quality: operators.Profiler.type = operators.Profiler

  /** Physical layout advisors: Z-order (q102/q236), compaction (q132),
    * vacuum (q139), zone maps (q216), RLE audit (q232), partitioned
    * scan pruning (q129). Spec: `LayoutSpec`. */
  val layout: operators.Layout.type = operators.Layout

  /** Multimodal: PNG/WAV/GVID codec round trips as binary columns with
    * typed metadata (q30/q39/q41/q199), perceptual fingerprint classes
    * (q301) and Hamming-banded near-dup pairs (q302), video
    * scene-signature classes/pairs (q303/q304), paired text-media
    * consistency (q306), cross-modal eval (q141), corpus capstone
    * (q165). Spec: `MultimodalSpec`. */
  val multimodal: operators.Multimodal.type = operators.Multimodal

  /** Record linkage: typo-variant linking via deletion neighborhoods
    * (q197), fuzzy matching (q106). Spec: `RecordLinkageSpec`. */
  val linkage: operators.RecordLinkage.type = operators.RecordLinkage

  /** Specialized joins: as-of (`AsOfJoin`, q77), point-in-interval
    * (`IntervalJoin`, q78), skew-salted (`SkewJoin`, q75). */
  object joins {
    val asOf: operators.AsOfJoin.type = operators.AsOfJoin
    val interval: operators.IntervalJoin.type = operators.IntervalJoin
    val skew: operators.SkewJoin.type = operators.SkewJoin
  }

  /** Streaming: watermarked windows + stream ops (`StreamOps`,
    * q17/q28), Bloom exact-dup gate (q94), TTL dedup on
    * `transformWithState` (q127), MinHash near-dup gate (q173), the
    * composed text curation pipeline with per-source quality floors
    * (q166; full composition q248–q250/q265 with decision log and
    * funnels), quota gate (q271), contamination gate (q299), the
    * media-perceptual admission gates (image/audio q305, video q307),
    * the semantic embedding-cosine gate (q308), and the FIVE-GATE
    * multi-modal admission chain (q317 — text exact + text near-dup +
    * semantic + media + video + quality cut in one stream, where an
    * edited re-crawl that slips the text gates dies on its unchanged
    * media/embedding), stream-static enrichment (q233). Every gate has
    * an exact relational replay and a RocksDB restart spec. Specs under
    * `streaming/`; throughput: `StreamBench` (SPARK_GRAFT_SB_GATE ∈
    * full|media|semantic|mm). */
  object curation {
    val stream: streaming.StreamOps.type = streaming.StreamOps
    val bloomGate: streaming.BloomGate.type = streaming.BloomGate
    val ttlDedup: streaming.TtlDedup.type = streaming.TtlDedup
    val nearDupGate: streaming.NearDupGate.type = streaming.NearDupGate
    val pipeline: streaming.CuratePipeline.type = streaming.CuratePipeline
    val stateful: streaming.StatefulOps.type = streaming.StatefulOps
    val quotaGate: streaming.QuotaGate.type = streaming.QuotaGate
    val contamGate: streaming.ContamGate.type = streaming.ContamGate
    val fullCurate: streaming.FullCurate.type = streaming.FullCurate
    val mediaGate: streaming.MediaGate.type = streaming.MediaGate
    val semanticGate: streaming.SemanticGate.type = streaming.SemanticGate
    val multiModal: streaming.MultiModalCurate.type = streaming.MultiModalCurate
  }

  /** Column-function kit: tokenization/fingerprints
    * ([[functions.TextFunctions]]), vector math
    * ([[functions.VectorFunctions]]), and the native codegen'd Catalyst
    * expressions ([[functions.native]]: minhash/shingles/simhash/
    * vec_dot/sign-LSH/Aho–Corasick multi-contains), SQL-registered via
    * [[GraftExtensions]]. */
  object fn {
    val text: functions.TextFunctions.type = functions.TextFunctions
    val vector: functions.VectorFunctions.type = functions.VectorFunctions
    val native: functions.native.type = functions.native
  }

  /** Parquet table readers with schemas pinned from each file's footer
    * (events timestamp-codec branching included). */
  val tables: Tables.type = Tables

  /** Look up a declared query by id — the full evidence surface.
    * @throws NoSuchElementException for unknown names (see [[queryNames]]) */
  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries(name)

  /** All declared query ids, sorted. */
  def queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
}
