package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Deduplication suite for training-data pipelines (north-star, SURVEY.md
  * §2.9): exact hash dedup, exact n-gram Jaccard with LSH-style blocking,
  * MinHash+LSH banding, and SimHash fingerprints.
  *
  * Scale design: every near-dup variant is CANDIDATE-GENERATION (a cheap
  * blocking key, one shuffle) followed by pair VERIFICATION restricted to
  * in-block pairs. Nothing here ever builds the O(n²) cross join; block
  * sizes are explicitly capped so a degenerate key (e.g. empty documents)
  * cannot produce a quadratic blowup on a skewed cluster partition.
  */
object DedupOps {

  /** The driver's `documents` table contains no duplicates at any SF, so
    * dedup operators run over documents ∪ documents-with-shifted-ids: every
    * text then has exactly two copies and the operators have real work to
    * do. The same union is reproduced in the DuckDB oracle. */
  val dupOffset = 100000L

  /** Number of equal coordinates between two equal-length `array<long>`
    * signature columns, UNROLLED to `element_at` comparisons.
    *
    * The combinator form `size(filter(zip_with(sa, sb, _ === _), m => m))`
    * is a higher-order-function chain, which Spark always evaluates
    * INTERPRETED (`HigherOrderFunction` has no `doGenCode`) — harmless on
    * per-document columns, but the LSH verification step runs it once per
    * CANDIDATE PAIR, and the round-9 sf10 probe (100-replica duplication
    * clusters → ~10⁸ candidates) showed executors pinned inside
    * `ZipWith.eval` with the stage outside whole-stage codegen. The
    * unrolled form is plain element_at/CASE integer arithmetic —
    * bit-identical result, stays fully inside codegen. */
  def sigMatches(sa: org.apache.spark.sql.Column,
                 sb: org.apache.spark.sql.Column, perms: Int):
      org.apache.spark.sql.Column =
    (1 to perms).map(i =>
      when(element_at(sa, i) === element_at(sb, i), 1).otherwise(0))
      .reduce(_ + _)

  def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    docs.unionByName(docs.withColumn("doc_id", $"doc_id" + dupOffset))
  }

  /** Exact dedup via content hash (the `drop_duplicates` D1/D2 semantics,
    * `parser_media_articles.py:83–84,98`, made deterministic): group by
    * fingerprint, keep min doc_id, report copy count. One shuffle on the
    * hash — at 100 TB this is the standard first dedup pass. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dupCorpus(spark, dir)
      .withColumn("fp", fingerprint($"text"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .filter($"n_copies" > 1)
      .select($"keep_doc_id", $"fp", $"n_copies")
      .orderBy($"keep_doc_id")
  }

  /** Per-doc DISTINCT shingle ARRAY over the BASE corpus — no explode: the
    * shingle set rides along as one array column, so downstream set math
    * (min-hash block key, intersection) is per-row expression work instead
    * of a multi-million-row shuffle. At 100 TB the only shuffles left in
    * the jaccard path are the block-size count and the candidate self-join.
    *
    * Returns the base docs only: callers derive their per-doc columns,
    * cache, and THEN apply [[withDupCopies]], so the expensive
    * tokenize→shingle→hash pass runs once per unique text rather than once
    * per corpus copy. */
  private def shingleArrays(spark: SparkSession, dir: String, n: Int): DataFrame = {
    import spark.implicits._
    // the tokenize→shingle pass reads the fanned corpus (serial on a
    // single-row-group fixture otherwise); no-op on real multi-file corpora
    Tables.fannedDocuments(spark, dir)
      .select($"doc_id", array_distinct(wordShingles(tokens($"text"), n)).as("arr"))
      .filter(size($"arr") > 0)
  }

  /** The md5-family MinHash signature relation over the doubled corpus —
    * (doc_id, sig: array<bigint>[perms]) for every sig-bearing document
    * (≥ `shingleN` tokens), derived ONCE per unique text (the
    * [[withDupCopies]] discipline) behind a cache barrier. Shared by the
    * q55/q67 batch chains' family and the q173 streaming near-dup gate,
    * whose replay and feed must band the IDENTICAL signatures. */
  def md5SigCorpus(spark: SparkSession, dir: String,
                   shingleN: Int = 3, perms: Int = 16): DataFrame = {
    import spark.implicits._
    withDupCopies(graft.CacheGuard.barrier(
      shingleArrays(spark, dir, shingleN)
        .select($"doc_id",
          graft.functions.native.md5MinHashSig($"arr", perms).as("sig"))))
  }

  /** The dupCorpus id-shift applied AFTER per-doc derivations: copies are
    * cheap projections over the (cached) derived relation, since every
    * text-derived column is identical for both copies by construction. */
  private def withDupCopies(derived: DataFrame): DataFrame = {
    val shifted = derived.withColumn("doc_id",
      org.apache.spark.sql.functions.col("doc_id") + dupOffset)
    derived.unionByName(shifted)
  }

  /** Exact n-gram Jaccard near-dup with single-minhash blocking.
    * Block key = min(md5(shingle)) per doc (a 1-permutation MinHash —
    * identical docs necessarily collide; near-identical docs collide with
    * probability ≈ their Jaccard). Blocks larger than `maxBlock` are
    * dropped (degenerate common-shingle blocks), then exact Jaccard is
    * computed only for in-block pairs as size(array_intersect) — per-pair
    * expression math, no shingle-level join. Results are identical to the
    * row-relational formulation, so it stays DuckDB-oracled. */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
                        n: Int = 3, threshold: Double = 0.6,
                        maxBlock: Int = 20): DataFrame = {
    import spark.implicits._
    // cache() is a deliberate optimization BARRIER, not just reuse: without
    // it CollapseProject inlines the expensive `arr` expression (tokenize →
    // shingle → distinct) into every downstream reference and both
    // self-join sides, recomputing it many times per row. The dup copies
    // are projected over the cache, so shingling runs once per unique text.
    //
    // The shingle STRINGS never leave this projection: the self-join below
    // shuffles 64-bit shingle hashes (`harr`), an order-of-magnitude
    // lighter exchange payload than md5-string arrays. Intersection counts
    // over distinct-element hash sets equal the string counts unless two
    // distinct shingles of one doc pair collide in 64 bits (~1e-16 at
    // document scale; a collision would surface as an oracle hash
    // mismatch, not silence). `harr` is NUMERICALLY sorted so the per-pair
    // intersection is the allocation-free sortedIntersectCount merge walk
    // — size(array_intersect) builds a hash set per candidate pair, and
    // that churn measurably GC-thrashes the set-join family at sf1+.
    val docs = withDupCopies(graft.CacheGuard.barrier(
      shingleArrays(spark, dir, n)
        .select($"doc_id",
          size($"arr").as("n_sh"),
          graft.functions.native.md5Min($"arr").as("bk"),
          array_sort(graft.functions.native.xxhash64Array($"arr")).as("harr"))))
    val blocks = Guards.capHotKeys(docs, "bk", maxBlock)
    blocks.as("x").join(blocks.as("y"),
        $"x.bk" === $"y.bk" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a"), $"y.doc_id".as("b"),
        graft.functions.native.sortedIntersectCount($"x.harr", $"y.harr").as("n_inter"),
        $"x.n_sh".as("na"), $"y.n_sh".as("nb"))
      .withColumn("jaccard",
        Quant.r4($"n_inter".cast("double") /
          ($"na" + $"nb" - $"n_inter").cast("double")))
      .filter($"jaccard" >= threshold)
      .select($"a", $"b", $"n_inter", $"jaccard")
      .orderBy($"a", $"b")
  }

  /** Reference-exact D1 dedup key: `title + "\n" + text-with-URLs-stripped`
    * (`parser_media_articles.py:83–84`). The corpus pairs every document
    * with a copy whose text carries a DIFFERENT tracking URL, so the two
    * copies collide ONLY after the `regexp_replace` URL strip — the strip
    * is load-bearing, not decorative. Same one-shuffle group-by-key shape
    * as [[exactDedup]]; title analog = `source` (shared by both copies). */
  def urlStripDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    def copy(urlHost: String, shift: Long) = docs.select(
      ($"doc_id" + shift).as("doc_id"),
      $"source".as("title"),
      concat(coalesce($"text", lit("")),
        lit(s" see https://$urlHost/"), $"doc_id").as("text"))
    copy("a.example", 0L).unionByName(copy("b.example", dupOffset))
      .select($"doc_id",
        md5(concat($"title", lit("\n"),
          regexp_replace($"text", "https?://\\S+", ""))).as("dedup_key"))
      .groupBy($"dedup_key")
      .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select($"keep_doc_id", $"dedup_key", $"n_copies")
      .orderBy($"keep_doc_id")
  }

  /** Hot band-block cap for the MinHash pair chains — the q173
    * registration discipline applied to symmetric pair GENERATION: per
    * (band, band-key) block, only the first `bandBlockCap` docs (by
    * doc_id) act as pair A-sides; every later carrier still pairs
    * against that registered core, so a hot block's pair volume is
    * O(cap × block) instead of O(block²) and cluster CONNECTIVITY is
    * preserved (every doc in the block links to the registered core →
    * one CC component, same keeper). Measured necessity: the sf10 probe
    * (200-deep replica clusters) ran the uncapped join out of DISK —
    * >75 GB of band-join shuffle spill — exactly the boilerplate-block
    * blowup q20's `maxBlock` and q159's `simBlockCap` already guard
    * against. The cap NEVER binds at driver SFs (measured max block: 6
    * at sf0.01, 34 at sf0.1, ~40 at sf1 — zero blocks > 64 anywhere),
    * so every oracle result is unchanged where the gate runs; the
    * oracle CTE applies the identical rank ≤ cap predicate. */
  val bandBlockCap = 64

  /** rank ≤ [[bandBlockCap]] A-side registration over a banded relation
    * — the window partitions by (band, key): block-sized partitions,
    * never corpus-sized. */
  private def registeredBand(banded: DataFrame, keyCol: String): DataFrame =
    banded
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col(keyCol)).orderBy(col("doc_id"))))
      .filter(col("rk") <= bandBlockCap).drop("rk")

  /** MinHash + LSH banding near-dup over the ORACLE-SHARED md5 +
    * mod-prime family: `perms` hash permutations → signature; `bands`
    * bands of `perms / bands` values; candidate pairs share a band;
    * verified with estimated Jaccard = fraction of matching minhash
    * coordinates ≥ threshold.
    *   - signature = [[graft.functions.Md5MinHashSignature]] (md5-h32 base
    *     hash, `(2p+3)·h + 7p+1 mod 2^31−1` remixes — plain BIGINT SQL),
    *     one codegen'd pass per doc;
    *   - the band key is the raw signature SLICE joined by array
    *     equality, so DuckDB replays it exactly. */
  def minHashLshPairsOracled(spark: SparkSession, dir: String,
                             shingleN: Int = 3, perms: Int = 16,
                             bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    md5MinHashPairs(spark, dir, shingleN, perms, bands, threshold)._1
      .orderBy($"a", $"b")
  }

  /** The banded candidate relation shared by [[md5MinHashPairs]] and
    * [[md5MinHashPairsWithSigs]]: registered-A-side band self-join,
    * PRE-deduplication — one row per (pair, shared band), signatures
    * attached. Both consumers verify and dedup, in opposite orders. */
  private def md5BandedCands(spark: SparkSession, dir: String,
                             shingleN: Int, perms: Int,
                             bands: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    // TWO storage regimes, gated on the SAME layout+size predicate as
    // Tables.fannedDocuments under the shingle pass (round 18, measured
    // both ways):
    //  - fanned-out corpus (unsplittable fixture, ≥1k rows/core): an
    //    EAGER localCheckpoint leaf. The band self-join's concurrent AQE
    //    leaf stages race to fill a cold cache barrier — the job probe
    //    measured the signature relation built by 8 stages at once
    //    (8 × 5.8 task-s at sf1b; the waste scales with the corpus
    //    tokenize and was the decade-row factor the r17 verdict flagged
    //    on q149). A checkpoint leaf is materialized exactly once over
    //    the fanned 32-way fill, every consumer scans a 1-line leaf, and
    //    blocks are freed deterministically (consumer-release hook, or
    //    earlier by eager callers — see nearDupKeepers).
    //  - small/serial corpus: r17's LAZY cache barrier. The fill is a
    //    ~2-task-s single partition; the racing consumers overlap it on
    //    idle cores, and an eager serializing job measured SLOWER at
    //    local[32] (q67 min-of-3: 3.8 s eager vs 2.7 racing), while an
    //    ungated fan-out cost q20 0.81 → 2.71 s in-suite at sf0.1 (the
    //    exchange's per-map-task shuffle-write stall, ~23 swrite-s for
    //    9 MB on this host's shared disk).
    val sigPlan = shingleArrays(spark, dir, shingleN)
      .select($"doc_id",
        graft.functions.native.md5MinHashSig($"arr", perms).as("sig"))
    val sigCached =
      if (Tables.unsplittable(spark, dir, "documents"))
        graft.CacheGuard.checkpointLeaf(sigPlan)
      else graft.CacheGuard.barrier(sigPlan)
    (md5BandedCandsOver(withDupCopies(sigCached), perms, bands), sigCached)
  }

  /** [[md5BandedCands]]' registered band self-join over an arbitrary
    * doubled `(doc_id, sig)` relation — split out (round 18) so the
    * keeper-audit chain can feed it from the shared sig+ts barrier
    * instead of building its own signature cache. */
  private def md5BandedCandsOver(sig: DataFrame, perms: Int,
                                 bands: Int): DataFrame = {
    val rows = perms / bands
    val banded = sig.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("sig"), b * lit(rows) + 1, lit(rows)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    registeredBand(banded, "band_key").as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sig").as("sa"), col("y.sig").as("sb"))
  }

  /** The md5-family pair generation shared by [[minHashLshPairsOracled]]
    * and [[nearDupKeepers]], UNordered (the pair consumer decides whether
    * a global sort is part of its contract — the CC consumer feeds a
    * shuffle anyway and must not pay a pre-sort). Returns the pairs and
    * the signature cache barrier so eager consumers can release it.
    *
    * VERIFY-THEN-DEDUP: est_jaccard is computed and the ≥ threshold cut
    * applied per (pair, band) row BEFORE the `dropDuplicates("a","b")`
    * shuffle, and the signature arrays never enter that exchange. est is
    * identical for every band-duplicate of a pair (it is a function of
    * (sa, sb) only), so filter/dedup commute and the pair set is
    * unchanged — but the dedup exchange now carries 24-byte
    * (a, b, est) rows instead of ~540-byte rows with two 16-long
    * signatures attached, and on realistic corpora the sub-threshold
    * candidates (the majority) never shuffle at all. Measured round-17
    * motive: the q67-chain decade rows (q149 14.8×, q178 12.1×) were
    * CPU+shuffle-bound exactly here — hot replica blocks emit
    * O(bandBlockCap × block) candidates per band, and every one of them
    * used to drag both signatures through the exchange. The per-band
    * re-verification (16 array compares × shared-band count) is codegen'd
    * arithmetic, an order of magnitude cheaper than the bytes it saves. */
  private def md5MinHashPairs(spark: SparkSession, dir: String,
                              shingleN: Int, perms: Int, bands: Int,
                              threshold: Double): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (cand, sigCached) =
      md5BandedCands(spark, dir, shingleN, perms, bands)
    (verifiedPairs(cand, perms, threshold), sigCached)
  }

  /** The verify-then-dedup tail of [[md5MinHashPairs]] over an arbitrary
    * banded-candidate relation (see that Scaladoc for why verification
    * precedes the dedup exchange). */
  private def verifiedPairs(cand: DataFrame, perms: Int,
                            threshold: Double): DataFrame =
    cand
      .select(col("a"), col("b"),
        Quant.r4(sigMatches(col("sa"), col("sb"), perms)
          .cast("double") / lit(perms.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("a", "b")

  /** [[md5MinHashPairs]] with both signature arrays retained on each
    * pair row — the q278 S-curve audit re-examines band agreement under
    * alternative (b, r) splits as in-row arithmetic, so the signatures
    * must survive the candidate join (the q266 restructure measured
    * re-joining them afterwards at 2.4× slower). Deduped BEFORE
    * verification here — the signatures have to cross the dedup exchange
    * anyway, so verifying first would only repeat the est arithmetic per
    * shared band with no byte savings. */
  private def md5MinHashPairsWithSigs(spark: SparkSession, dir: String,
                                      shingleN: Int, perms: Int, bands: Int,
                                      threshold: Double): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (cand, sigCached) =
      md5BandedCands(spark, dir, shingleN, perms, bands)
    val pairs = cand
      .dropDuplicates("a", "b")
      .select($"a", $"b", $"sa", $"sb",
        Quant.r4(sigMatches($"sa", $"sb", perms)
          .cast("double") / lit(perms.toDouble)).as("est_jaccard"))
      .filter($"est_jaccard" >= threshold)
    (pairs, sigCached)
  }

  /** The COMPOSED near-dup dedup pipeline, end to end in one declared
    * query — the product a corpus builder actually ships: MinHash+LSH
    * candidate pairs ([[md5MinHashPairs]], the oracle-shared md5 family)
    * → [[Components.connectedComponents]] transitive closure over the
    * REAL pair graph → per-document keeper verdict. Pairwise output alone
    * under-deletes (A~B, B~C from different bands with no direct A~C
    * pair); the CC pass collapses chains into clusters and `keeper =
    * min(doc_id)` per cluster is the survivor, mirroring the keep-first
    * semantics of `parser_media_articles.py:83–84,98` taken to corpus
    * scale.
    *
    * Plan shape at 100 TB: the pair stage is the q55-audited band
    * self-join (one signature pass, one band-key shuffle); CC is one
    * shuffle per graph round over the PAIR graph only (O(duplicates), not
    * O(corpus) — the corpus itself never enters the iteration); the final
    * keeper join is one broadcast-or-shuffle hash join of corpus ids
    * against CC labels, and cluster sizes are one keeper-partitioned
    * window count over it. The signature cache is released as soon as
    * CC's eager rounds have consumed it. */
  def nearDupKeepers(spark: SparkSession, dir: String,
                     shingleN: Int = 3, perms: Int = 16,
                     bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val (pairs, sigCached) =
      md5MinHashPairs(spark, dir, shingleN, perms, bands, threshold)
    // connectedComponents runs its rounds EAGERLY, so by the time it
    // returns the pair pipeline has fully run, nothing downstream
    // references the signatures, and their storage can be freed early in
    // EITHER regime (each call no-ops for the other; the release hook's
    // later call is a no-op too)
    val comps = Components.connectedComponents(pairs.select($"a", $"b"))
    graft.CacheGuard.drop(sigCached)
    graft.CacheGuard.dropCheckpoint(sigCached)
    val ids = dupCorpus(spark, dir).select($"doc_id")
    // cluster sizes from one keeper-partitioned window over the label
    // join: (doc, keeper) is referenced once, so it needs no leaf and no
    // rollup joined back
    ids.join(comps, ids("doc_id") === comps("node"), "left")
      .select($"doc_id", coalesce($"component", $"doc_id").as("keeper"))
      .select($"doc_id", $"keeper", ($"doc_id" === $"keeper").as("is_keeper"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"keeper")).as("cluster_size"))
      .orderBy($"doc_id")
  }

  /** Leakage-safe train/val/test split: assign the split by hashing the
    * near-dup CLUSTER label ([[nearDupKeepers]]' keeper), not the
    * document id, so near-duplicates can never straddle train and test —
    * the split-contamination failure mode of hash-per-doc splitting
    * (`est_jaccard ≥ t` pairs landing on both sides of the boundary
    * leak evaluation data into training). The naive per-doc bucket rides
    * along and `leak_prevented` marks every document whose cluster the
    * naive split WOULD have torn across splits — the audit a corpus
    * release report quotes.
    *
    * Buckets are `md5("split:" || id) mod 10` → 8/1/1 train/val/test:
    * deterministic and engine-portable (the DuckDB oracle recomputes the
    * identical assignment), and stable under corpus growth — adding
    * documents never moves an existing cluster's split unless a new edge
    * genuinely merges two clusters.
    *
    * Plan shape at 100 TB: everything downstream of the CC labels is one
    * keeper-keyed aggregate + join (the same key, and in practice the
    * same shuffle layout, as the cluster-size join inside
    * [[nearDupKeepers]]); the split itself is pure per-row hash work. */
  def leakageSafeSplit(spark: SparkSession, dir: String,
                       shingleN: Int = 3, perms: Int = 16,
                       bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    def bucket(c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit("split:"), c.cast("string"))), 1, 4),
        16, 10).cast("long") % 10
    def name(b: org.apache.spark.sql.Column) =
      when(b < 8, "train").when(b === 8, "val").otherwise("test")
    val labeled = nearDupKeepers(spark, dir, shingleN, perms, bands, threshold)
      .select($"doc_id", $"keeper",
        name(bucket($"keeper")).as("split"),
        name(bucket($"doc_id")).as("naive_split"))
    labeled.join(
        labeled.groupBy($"keeper")
          .agg(countDistinct($"naive_split").as("n_naive")),
        "keeper")
      .select($"doc_id", $"keeper", $"split", $"naive_split",
        ($"n_naive" > 1).as("leak_prevented"))
      .orderBy($"doc_id")
  }

  /** Incremental NEAR-dup gate — the LSH extension of
    * [[incrementalDedupGate]]: the v2 delta's documents are MinHash-banded
    * and joined against the v1 HISTORY's bands, so a changed document is
    * flagged even when its fingerprint differs (its old self, and any
    * other historical near-copy, still shares LSH bands). Re-added docs
    * hit at est 1.0; amended docs hit their previous version when the
    * edit is small relative to the text.
    *
    * Scale shape: history is scanned ONCE to band (no history self-join —
    * the cross-side band join is delta-driven, O(|delta| × band width));
    * signature work is the shared md5 family (native expression, one
    * pass); delta docs with no signature (<3 tokens) surface with zero
    * matches via the final left join rather than disappearing. */
  def incrementalNearDupGate(spark: SparkSession, dir: String,
                             shingleN: Int = 3, perms: Int = 16,
                             bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val rows = perms / bands
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val v2 = docs.filter($"doc_id" % 5 =!= 4)
      .select($"doc_id",
        when($"doc_id" % 7 === 0,
          concat(coalesce($"text", lit("")), lit(" v2-edit")))
          .otherwise($"text").as("text"))
      .unionByName(docs.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 300000L).as("doc_id"), $"text"))
    val v1fp = docs.select($"doc_id", fingerprint($"text").as("fp1"))
    val delta = v2.withColumn("fp2", fingerprint($"text"))
      .join(v1fp, Seq("doc_id"), "left")
      .filter($"fp1".isNull || $"fp1" =!= $"fp2")
      .select($"doc_id",
        when($"fp1".isNull, "added").otherwise("changed").as("status"),
        $"text")
    def banded(df: DataFrame) = df
      .select($"doc_id",
        graft.functions.native.md5MinHashSig(
          array_distinct(wordShingles(tokens($"text"), shingleN)), perms)
          .as("sig"))
      .filter($"sig".isNotNull)
      .select($"doc_id", $"sig",
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice($"sig", b * lit(rows) + 1, lit(rows)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val hits = banded(delta.select($"doc_id", $"text")).as("d")
      .join(banded(docs).as("h"),
        $"d.band" === $"h.band" && $"d.band_key" === $"h.band_key")
      .select($"d.doc_id".as("doc_id"), $"h.doc_id".as("hist_id"),
        $"d.sig".as("sa"), $"h.sig".as("sb"))
      .dropDuplicates("doc_id", "hist_id")
      .filter(
        Quant.r4(sigMatches($"sa", $"sb", perms)
          .cast("double") / lit(perms.toDouble)) >= threshold)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_near"), min($"hist_id").as("first_match"))
    delta.join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"status",
        coalesce($"n_near", lit(0L)).as("n_near"),
        coalesce($"first_match", lit(-1L)).as("first_match"),
        ($"n_near".isNotNull).as("near_hit"))
      .orderBy($"doc_id")
  }

  /** Quality-aware cluster collapse: same clusters as [[nearDupKeepers]],
    * but the survivor is the BEST copy — max `n_chars`, ties to the
    * lowest doc_id — instead of the lowest id. This is the keeper policy
    * production dedup actually wants (keep the longest/cleanest variant,
    * drop truncated mirrors); min-id keeping is only right when copies
    * are bit-identical.
    *
    * Plan shape: one extra keeper-keyed `max_by` aggregate over a
    * (n_chars, −doc_id) struct order — partial-aggregable, no window —
    * plus the join back; both ride the same keeper key as the
    * cluster-size join already in the pipeline. */
  def qualityKeepers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // leaf: `lb` feeds both the best-copy rollup and the join back, and
    // the two copies of the keeper subtree do not share their id shuffle
    // (the inner join pushes an isnotnull filter into only one of them)
    val labeled = graft.CacheGuard.checkpointLeaf(nearDupKeepers(spark, dir)
      .select($"doc_id", $"keeper".as("cluster_id"), $"cluster_size"))
    val docs = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
    val cn = docs.unionByName(docs.withColumn("doc_id", $"doc_id" + dupOffset))
    val lb = labeled.join(cn, "doc_id")
    val best = lb.groupBy($"cluster_id")
      .agg(max_by($"doc_id", struct($"n_chars", (-$"doc_id").as("nid")))
        .as("best_doc_id"))
    lb.join(best, "cluster_id")
      .select($"doc_id", $"cluster_id", $"n_chars", $"best_doc_id",
        ($"doc_id" === $"best_doc_id").as("is_kept"), $"cluster_size")
      .orderBy($"doc_id")
  }

  /** SimHash 32-bit fingerprint per document: for each bit, sign of the
    * sum over tokens of ±1 by the token hash's bit. Near-dup docs land at
    * small Hamming distance. Computed by the native
    * [[graft.functions.SimHashExpr]] — per-row, zero shuffles (the
    * relational explode-tokens × explode-bits formulation shuffled
    * |corpus|×|tokens|×32 rows twice); the md5-derived token hash is
    * bit-identical to the SQL oracle's. Docs with no tokens are excluded
    * (they vanish from the explode/unnest formulations on both sides). */
  def simHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", graft.functions.native.simHash($"toks").as("simhash"))
      .orderBy($"doc_id")
  }

  /** Bloom parameters for [[bloomDedupGate]], shared with the q74 oracle:
    * m bits, k hash functions, 32-bit words (a 32-bit shift can never
    * overflow a BIGINT in either engine; 1L << 63 would). */
  val bloomBits = 1024L
  val bloomK = 3
  val bloomNewOffset = 500000L

  /** Bloom-filter incremental dedup GATE — the membership sketch a
    * pipeline holds against the EXISTING corpus so a new batch can be
    * screened without joining 100 TB of history: build an m-bit Bloom
    * over historical content fingerprints, test each incoming doc, and
    * report hits alongside exact membership so false positives are
    * auditable (a Bloom "maybe" sends the doc to the exact check; a "no"
    * skips it — the point is that "no" is certain).
    *
    * Scale shape: the filter is a MERGEABLE `bit_or` aggregate over
    * `m/32` words — partitions collapse to ≤32 rows each before the
    * exchange (the q65 HLL shape), and the finished sketch is a tiny
    * relation that BROADCASTS to the probe side; history is scanned once
    * to build, never joined to the batch. The exact-membership column
    * here (for the FP audit) joins fingerprints directly — at scale that
    * is precisely the expensive path the Bloom pre-filter short-circuits.
    * Everything is integer bit arithmetic, identical in both engines.
    *
    * Corpus split: even ids = history; odd ids = genuinely-new batch;
    * every 10th even doc also re-arrives (id-shifted) as a true duplicate,
    * so hits decompose into true positives AND measurable false
    * positives. */
  /** Per-(doc, fp) Bloom bit positions for a (doc_id, fp) relation — the
    * shared hash family of [[bloomDedupGate]] and
    * [[incrementalDedupGate]] (q74/q88 oracles). */
  private def bloomPositions(df: DataFrame, m: Long, k: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"doc_id", $"fp",
        explode(transform(sequence(lit(0), lit(k - 1)),
          j => md5Hash32(concat($"fp", lit("#"), j.cast("string"))) % m))
          .as("pos"))
      .select($"doc_id", $"fp", $"pos",
        expr("pos div 32").as("word"), ($"pos" % 32).cast("int").as("bit"))
  }

  /** The mergeable m-bit Bloom as a (word, bits) relation. */
  private def bloomBuild(hist: DataFrame, m: Long, k: Int): DataFrame = {
    import hist.sparkSession.implicits._
    bloomPositions(hist, m, k)
      .groupBy($"word")
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), bit)")).as("bits"))
  }

  /** Per-(doc, fp) count of set Bloom bits against a broadcast sketch. */
  private def bloomProbe(batch: DataFrame, bloom: DataFrame,
                         m: Long, k: Int): DataFrame = {
    import batch.sparkSession.implicits._
    bloomPositions(batch, m, k)
      .join(broadcast(bloom), Seq("word"), "left")
      .select($"doc_id", $"fp",
        when((coalesce($"bits", lit(0L))
          .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), bit)"))) =!= 0L, 1L)
          .otherwise(0L).as("set"))
      .groupBy($"doc_id", $"fp")
      .agg(sum($"set").as("n_set"))
  }

  def bloomDedupGate(spark: SparkSession, dir: String,
                     m: Long = bloomBits, k: Int = bloomK): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", fingerprint($"text").as("fp"))
    val hist = docs.filter($"doc_id" % 2 === 0)
    val fresh = docs.filter($"doc_id" % 2 === 1)
      .unionByName(docs.filter($"doc_id" % 2 === 0 && $"doc_id" % 10 === 0)
        .withColumn("doc_id", $"doc_id" + bloomNewOffset))
    val checked = bloomProbe(fresh, bloomBuild(hist, m, k), m, k)
    val histFps = hist.select($"fp").distinct()
      .withColumn("exact_dup", lit(true))
    checked.join(broadcast(histFps), Seq("fp"), "left")
      .select($"doc_id",
        ($"n_set" === k).as("bloom_hit"),
        coalesce($"exact_dup", lit(false)).as("exact_dup"),
        ($"n_set" === k && coalesce($"exact_dup", lit(false)) === false)
          .as("false_positive"))
      .orderBy($"doc_id")
  }

  /** Incremental reprocessing, composed end to end: the q80 snapshot diff
    * picks out ONLY the delta (added + changed docs of the v2 replay),
    * and the q74 Bloom gate screens that delta against v1 history — the
    * "process just what's new, and of that, skip what history already
    * holds" loop of a periodically-refreshed corpus. Re-added documents
    * (same text, new id) are the true positives; the false_positive
    * column audits the Bloom's maybe-rate on genuinely new content.
    *
    * Scale shape: the diff is one full-outer join on doc_id; everything
    * downstream runs on the DELTA only (O(changes), not O(corpus)); the
    * Bloom is built in one history scan, collapses to m/32 words before
    * its exchange, and broadcasts to the probe. The exact-membership join
    * stays — it is the audit that prices the Bloom's error, exactly as in
    * q74. */
  def incrementalDedupGate(spark: SparkSession, dir: String,
                           m: Long = bloomBits, k: Int = bloomK): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val v1 = docs.select($"doc_id", fingerprint($"text").as("fp1"))
    // the q80 v2 replay: every 5th dropped, every 7th amended, every 11th
    // re-added under a new id
    val v2 = docs.filter($"doc_id" % 5 =!= 4)
      .select($"doc_id",
        fingerprint(when($"doc_id" % 7 === 0,
          concat(coalesce($"text", lit("")), lit(" v2-edit")))
          .otherwise($"text")).as("fp2"))
      .unionByName(docs.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 300000L).as("doc_id"),
          fingerprint($"text").as("fp2")))
    val delta = v1.join(v2, Seq("doc_id"), "full_outer")
      .filter($"fp2".isNotNull && ($"fp1".isNull || $"fp1" =!= $"fp2"))
      .select($"doc_id",
        when($"fp1".isNull, "added").otherwise("changed").as("status"),
        $"fp2".as("fp"))
    val hist = v1.select($"doc_id", $"fp1".as("fp"))
    val checked = bloomProbe(delta.select($"doc_id", $"fp"),
      bloomBuild(hist, m, k), m, k)
    val histFps = hist.select($"fp").distinct()
      .withColumn("exact_dup", lit(true))
    delta.join(checked, Seq("doc_id", "fp"))
      .join(broadcast(histFps), Seq("fp"), "left")
      .select($"doc_id", $"status",
        ($"n_set" === k).as("bloom_hit"),
        coalesce($"exact_dup", lit(false)).as("exact_dup"),
        ($"n_set" === k && coalesce($"exact_dup", lit(false)) === false)
          .as("false_positive"))
      .orderBy($"doc_id")
  }

  /** Span length (tokens), duplication-rate threshold, and the partial-dup
    * seeding offset for [[spanDedupReport]], shared with the q72 oracle. */
  val spanLen = 5
  val spanDupThreshold = 0.5
  val spanDupOffset = 200000L
  val spanDupMod = 7L

  /** Repeated-SPAN analysis — the C4-style sub-document dedup pass: chop
    * each document into non-overlapping `spanLen`-token spans, count each
    * distinct span's occurrences corpus-wide, and report per document how
    * much of it duplicates other text (flagging docs past `threshold` for
    * removal, the C4 "three-sentence span" rule at n-gram granularity).
    * Catches boilerplate and partial copies that DOCUMENT-level dedup
    * (q18/q55) cannot see. Every `doc_id % 7 = 0` document is seeded as a
    * full shifted copy so exact re-use exists alongside the corpus's
    * organic span collisions; both engines reproduce the seeding.
    *
    * Scale shape: one tokenize+chunk pass (per-row expressions), one
    * partial-aggregated groupBy over span HASHES (md5, never the strings
    * — the exchange carries 32-byte keys), one hash-join back (shuffle
    * O(spans)), one per-doc reduce. No self-join, no window; degenerate
    * spans ("the the the…") just become hot count rows, not hot joins. */
  def spanDedupReport(spark: SparkSession, dir: String,
                      n: Int = spanLen,
                      threshold: Double = spanDupThreshold): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val corpus = docs.unionByName(
      docs.filter($"doc_id" % spanDupMod === 0)
        .withColumn("doc_id", $"doc_id" + spanDupOffset))
    val spans = corpus
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= n)
      .select($"doc_id", explode(
        transform(sequence(lit(0), (size($"toks") / n).cast("int") - 1),
          i => md5(array_join(slice($"toks", i * n + 1, lit(n)), " "))))
        .as("span"))
    val counts = spans.groupBy($"span").agg(count(lit(1)).as("cnt"))
    spans.join(counts, "span")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"cnt" > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select($"doc_id", $"n_spans", $"n_dup_spans",
        Quant.r4($"n_dup_spans".cast("double") / $"n_spans".cast("double"))
          .as("dup_ratio"),
        ($"n_dup_spans".cast("double") >
          lit(threshold) * $"n_spans".cast("double")).as("flagged"))
      .orderBy($"doc_id")
  }

  /** Cluster-SIZE histogram over the q67 near-dup components — the
    * dedup-quality report a corpus owner reads before committing a
    * keeper policy: how many duplicate families exist at each size (and
    * how much of the corpus they hold). A heavy tail here means the
    * LSH threshold is too loose (or boilerplate is chaining unrelated
    * documents — the q48 transitive-closure caveat made measurable).
    * Derived entirely from [[nearDupKeepers]] — one more keyed rollup,
    * exchange O(distinct sizes). */
  def dedupClusterHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    nearDupKeepers(spark, dir)
      .groupBy($"cluster_size")
      .agg(countDistinct($"keeper").as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .orderBy($"cluster_size")
  }

  /** MinHash ACCURACY audit — q93's recall-audit discipline applied to
    * the q55 estimator itself: for every LSH candidate pair, the
    * 16-permutation signature estimate next to the EXACT distinct
    * 3-shingle Jaccard and their absolute error — the measured answer
    * to "how many permutations do we need", and the audit that catches
    * a silently-degraded hash family (a wrong estimate shifts the
    * error column, a wrong candidate set changes the row set).
    *
    * Scale shape: the pair relation is q55's (banded, never all-pairs);
    * verification joins each pair's A-side shingles to the B-side
    * shingle relation on (doc, shingle) — O(pairs × doc_len) candidate
    * rows, the standard verification cost — and set sizes come from one
    * keyed aggregation over the shingle relation. */
  def minhashAccuracyAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minHashLshPairsOracled(spark, dir)
    val sh = dupCorpus(spark, dir)
      .select($"doc_id", tokens($"text").as("tk"))
      .filter(size($"tk") >= 3)
      .select($"doc_id",
        explode(array_distinct(wordShingles($"tk", 3))).as("sh"))
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs.select($"a", $"b")
      .join(sh.select($"doc_id".as("a"), $"sh"), "a")
      .join(sh.select($"doc_id".as("b"), $"sh"), Seq("b", "sh"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("ni"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      .join(sz.select($"doc_id".as("a"), $"n".as("na")), "a")
      .join(sz.select($"doc_id".as("b"), $"n".as("nb")), "b")
      .select($"a", $"b", $"est_jaccard",
        coalesce($"ni", lit(0L)).as("ni"), $"na", $"nb")
      .select($"a", $"b", $"est_jaccard",
        Quant.r4($"ni".cast("double") /
          ($"na" + $"nb" - $"ni").cast("double")).as("exact_jaccard"))
      .withColumn("abs_err",
        Quant.r4(abs($"est_jaccard" - $"exact_jaccard")))
      .orderBy($"a", $"b")
  }

  /** b-BIT MinHash audit (q266) — Li & König 2010: storing only the low
    * b bits of each MinHash coordinate cuts the signature from 16×8 B to
    * 16×b bits, and Jaccard is recovered from the b-bit MATCH RATE via
    * the bias correction Ĵ = (rate − C) / (1 − C), C = 2^-b (for b = 1:
    * Ĵ = 2·rate − 1, clamped at 0 — half the bits agree by chance). This
    * query puts the b = 1 estimator next to the full-signature estimate
    * on q150's audited LSH candidate pairs: the measured answer to "what
    * accuracy do we give up for a 64× smaller dedup index" — at 100 TB
    * the signature store is the near-dup pass's resident state, so the
    * compression is the difference between an in-memory and a spilled
    * history.
    *
    * Scale shape: the pair relation is q55's banded candidates (never
    * all-pairs); both estimators are per-pair expression work over the
    * two signature arrays (zip + fold, codegen'd) — the audit adds two
    * hash-joins of the pair list against the O(docs × 16-long) signature
    * relation and nothing corpus-quadratic. */
  def bbitMinhashAudit(spark: SparkSession, dir: String,
                       shingleN: Int = 3, perms: Int = 16,
                       bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    // one signature chain, banded once, with BOTH signatures kept on the
    // candidate row — both estimators are then in-row expression work
    // (piggybacking on minHashLshPairsOracled would rebuild the
    // signature relation and re-join it to Ω(pairs) rows: measured 2.4×
    // slower at sf10 before this restructure)
    val rows = perms / bands
    val sigCached = graft.CacheGuard.barrier(
      shingleArrays(spark, dir, shingleN)
        .select($"doc_id",
          graft.functions.native.md5MinHashSig($"arr", perms).as("sig")))
    val sig = withDupCopies(sigCached)
    val banded = sig.select($"doc_id", $"sig",
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice($"sig", b * lit(rows) + 1, lit(rows)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val cand = registeredBand(banded, "band_key").as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.band_key" === $"y.band_key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a"), $"y.doc_id".as("b"),
        $"x.sig".as("sa"), $"y.sig".as("sb"))
      .dropDuplicates("a", "b")
    val parityMatches = aggregate(
      zip_with($"sa", $"sb", (x, y) =>
        when(x % 2 === y % 2, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m)
    val out = cand
      .select($"a", $"b",
        Quant.r4(sigMatches($"sa", $"sb", perms)
          .cast("double") / lit(perms.toDouble)).as("est_jaccard"),
        Quant.r4(greatest(lit(0.0),
          (parityMatches * 2 - perms).cast("double") / lit(perms.toDouble)))
          .as("est_b1"))
      .filter($"est_jaccard" >= threshold)
      .withColumn("abs_gap", Quant.r4(abs($"est_b1" - $"est_jaccard")))
      .orderBy($"a", $"b")
    // sigCached stays registered: the returned plan is lazy, so the
    // consumer releases it after its action (the CacheGuard contract)
    out
  }

  /** Minimum chained-span count for a run to be flagged `long_run`,
    * shared with the q140 oracle and spec: 2 spans = 10 tokens, the
    * "substring long enough to be worth cutting" bar. */
  val minRunSpans = 2

  /** Maximal DUPLICATED-RUN extraction — the substring-level dedup of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better"), approximated on [[spanDedupReport]]'s fixed 5-token grid:
    * q72 tells you WHICH spans duplicate somewhere in the corpus; this
    * operator CHAINS adjacent duplicated spans per document into maximal
    * runs (the gap-and-islands pattern: `idx − row_number()` is constant
    * exactly along a consecutive duplicated stretch), reporting each
    * run's token offset and length — the spans an actual dedup pass would
    * cut out of the document, rather than a per-doc ratio. A seeded full
    * copy (q72's `doc_id % 7` shift) makes every span of those documents
    * duplicated, so their chains collapse to ONE whole-document run —
    * the maximality property the spec asserts on a constructed corpus.
    *
    * Scale shape: identical to q72 through the span-count join (one
    * tokenize+chunk pass, one partial-aggregated groupBy over span
    * hashes, one hash join back); the chaining window PARTITIONS BY
    * doc_id — per-document state, never a global window — and the final
    * aggregate is one more keyed reduce. Shuffle volume O(duplicated
    * spans), a subset of q72's. */
  def duplicatedRuns(spark: SparkSession, dir: String,
                     n: Int = spanLen): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    duplicatedRunsOf(docs.unionByName(
      docs.filter($"doc_id" % spanDupMod === 0)
        .withColumn("doc_id", $"doc_id" + spanDupOffset)), n)
  }

  /** Core of [[duplicatedRuns]] over any `(doc_id, text)` relation, split
    * out so the spec can prove chaining/maximality on a constructed
    * overlapping-document corpus. */
  def duplicatedRunsOf(corpus: DataFrame, n: Int = spanLen): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val spans = corpus
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= n)
      .select($"doc_id", posexplode(
        transform(sequence(lit(0), (size($"toks") / n).cast("int") - 1),
          i => md5(array_join(slice($"toks", i * n + 1, lit(n)), " ")))))
      .select($"doc_id", $"pos".as("idx"), $"col".as("span"))
    val dupSpans = spans.groupBy($"span").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"idx")
    spans.join(dupSpans, "span")
      .withColumn("grp", $"idx" - (row_number().over(w) - 1))
      .groupBy($"doc_id", $"grp")
      .agg(min($"idx").as("start_idx"), count(lit(1)).as("n_spans"))
      .select($"doc_id",
        ($"start_idx" * n).cast("long").as("start_token"),
        $"n_spans",
        ($"n_spans" * n).cast("long").as("run_tokens"),
        ($"n_spans" >= minRunSpans).as("long_run"))
      .orderBy($"doc_id", $"start_token")
  }

  /** SimHash banding parameters, shared with the q159/q160 oracles:
    * 4 bands of 8 bits over the 32-bit fingerprint, Hamming radius, and
    * the hot-block cap. */
  val simBands = 4
  val simBandBits = 8
  val simHammingMax = 6
  val simBlockCap = 20

  /** SimHash NEAR-DUP pair generation — the pair-producing half q21's
    * fingerprint column was built for: band the 32-bit fingerprint into
    * [[simBands]] 8-bit keys (two fingerprints within Hamming distance
    * d < bands must agree on ≥ one whole band — the pigeonhole guarantee
    * LSH banding rests on), block-join on (band, value), verify with
    * `bit_count(xor)` ≤ [[simHammingMax]]. The structural complement of
    * q55: MinHash approximates set overlap, SimHash approximates
    * weighted-profile cosine — q160 measures where they disagree.
    *
    * Scale shape: banding is a 4-way per-row fan-out; blocks are capped
    * via [[Guards.capHotKeys]] BEFORE the self-join (8-bit band values
    * over a shared vocabulary do concentrate); verification is one
    * per-row popcount on the O(candidates) pair table — never all-pairs. */
  def simHashPairs(spark: SparkSession, dir: String,
                   hammingMax: Int = simHammingMax,
                   cap: Int = simBlockCap): DataFrame = {
    import spark.implicits._
    val fp = graft.CacheGuard.barrier(
      dupCorpus(spark, dir)
        .select($"doc_id", tokens($"text").as("toks"))
        .filter(size($"toks") > 0)
        .select($"doc_id", graft.functions.native.simHash($"toks").as("sh")))
    // ONE explode over the cached fingerprints — a per-band union
    // schedules bands× the stages for the same rows (the q302 lesson)
    val banded = fp.select($"doc_id", $"sh",
      explode(expr(
        s"transform(sequence(0, ${simBands - 1}), b -> " +
          s"(shiftright(sh, CAST(b AS INT) * $simBandBits) " +
          s"& ${(1L << simBandBits) - 1}) " +
          s"+ CAST(b AS BIGINT) * ${1L << simBandBits})")).as("bk"))
    val blocks = Guards.capHotKeys(banded, "bk", cap)
    blocks.as("x").join(blocks.as("y"),
        $"x.bk" === $"y.bk" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a"), $"y.doc_id".as("b"),
        $"x.sh".as("sha"), $"y.sh".as("shb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sha ^ shb)").cast("long"))
      .filter($"hamming" <= hammingMax)
      .select($"a", $"b", $"hamming")
      .orderBy($"a", $"b")
  }

  /** Near-dup DETECTOR agreement — the method-comparison artifact a
    * dedup owner reads before standardizing on one detector: the q55
    * MinHash-LSH pair set vs the q159 SimHash pair set over the SAME
    * doubled corpus, split into both / minhash-only / simhash-only,
    * each bucket carrying how many KNOWN exact-duplicate pairs (the
    * seeded shifted copies — ground truth by construction) it holds.
    * MinHash sees set overlap, SimHash sees weighted profiles: the
    * disagreement buckets are precisely the pairs where that modeling
    * difference bites.
    *
    * Scale shape: both pair relations are banded (never all-pairs);
    * the comparison is one full-outer join on O(pairs) keys + a 3-row
    * rollup. */
  def detectorAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mh = minHashLshPairsOracled(spark, dir)
      .select($"a", $"b").withColumn("in_mh", lit(true))
    val sh = simHashPairs(spark, dir)
      .select($"a", $"b").withColumn("in_sh", lit(true))
    mh.join(sh, Seq("a", "b"), "full_outer")
      .select($"a", $"b",
        when(coalesce($"in_mh", lit(false)) && coalesce($"in_sh", lit(false)),
          "both")
          .when(coalesce($"in_mh", lit(false)), "minhash_only")
          .otherwise("simhash_only").as("method"))
      .groupBy($"method")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"b" === $"a" + dupOffset, 1L).otherwise(0L))
          .as("n_exact_dups"))
      .orderBy($"method")
  }

  /** Substring-dedup REWRITE — the ACT half of q140's detect (Lee et
    * al.'s pipeline actually edits the documents): every long duplicated
    * run (≥ [[minRunSpans]] chained spans) is CUT from its document, and
    * the cleaned text is fingerprinted so the oracle hash match proves
    * the REWRITE itself — token-for-token — not just the cut counts.
    * Per document: original token count, tokens cut, tokens kept, and
    * the md5 of the kept token stream.
    *
    * Scale shape: the run relation is q140's (banded span counts + a
    * per-doc window); the rewrite is a per-row lambda over the token
    * array against the doc's own run list (runs per doc are few and
    * bounded by doc length) joined doc-keyed — no new shuffle class.
    * Two tokenize passes (one inside run detection, one for the
    * rewrite), both map-side. */
  def dedupRewrite(spark: SparkSession, dir: String,
                   n: Int = spanLen): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val corpus = docs.unionByName(
      docs.filter($"doc_id" % spanDupMod === 0)
        .withColumn("doc_id", $"doc_id" + spanDupOffset))
    val runs = duplicatedRunsOf(corpus, n).filter($"long_run")
      .groupBy($"doc_id")
      .agg(collect_list(struct($"start_token".as("s"), $"run_tokens".as("l")))
        .as("rs"))
    corpus.select($"doc_id", tokens($"text").as("tk"))
      .join(runs, Seq("doc_id"), "left")
      .withColumn("rs",
        coalesce($"rs", array().cast("array<struct<s:bigint,l:bigint>>")))
      .withColumn("kept",
        filter(transform($"tk", (t, i) => struct(t.as("t"), i.as("i"))),
          s => !exists($"rs", r =>
            s("i").cast("long") >= r("s") &&
              s("i").cast("long") < r("s") + r("l"))))
      .select($"doc_id",
        size($"tk").cast("long").as("n_tokens"),
        (size($"tk") - size($"kept")).cast("long").as("n_cut"),
        size($"kept").cast("long").as("n_kept"),
        md5(array_join(transform($"kept", s => s("t")), " ")).as("kept_fp"))
      .orderBy($"doc_id")
  }

  /** Set-similarity Jaccard threshold as an exact rational (3/5 = 0.6),
    * shared with the q114 oracle — integer comparisons only, no float
    * threshold anywhere. */
  val setSimTauNum = 3
  val setSimTauDen = 5

  /** Exact set-similarity self-join with PREFIX FILTERING (SSJoin /
    * PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008): all
    * document pairs whose distinct 3-token-SHINGLE Jaccard ≥ τ, found
    * WITHOUT an all-pairs comparison. Shingle sets (not word sets — a
    * small vocabulary saturates word sets and makes every pair "similar")
    * are globally ordered rarest-first (document frequency ascending); a
    * pair with J ≥ τ must share an element within each side's first
    * `n − ⌈τ·n⌉ + 1` elements of that order, so only prefix-element
    * blocks generate candidates — and the prefix holds each document's
    * RAREST shingles, so blocks are small by construction. The filter is
    * LOSSLESS: the oracle states the naive any-shared-element +
    * exact-Jaccard form and the hash match proves no pair was dropped.
    *
    * Scale shape: element df is one keyed aggregation; the rarest-first
    * re-sort is a per-doc collect over its own elements (bounded by doc
    * length); candidate generation shuffles ONLY prefix elements (≈ 40%
    * at τ=0.6, each rare); verification joins the O(candidates) pair
    * table back to the doc→element-array relation on doc id and counts
    * overlap with the allocation-free sorted merge walk
    * ([[graft.functions.native.sortedIntersectCount]]). Everything
    * integer: the prefix length
    * uses `⌈τn⌉ = ⌊(3n+4)/5⌋` and the threshold test is
    * `den·inter ≥ num·union`, so no float can flip a boundary pair.
    * Duplicate families DO concentrate in one block (all copies share
    * their rare shingles) — that is genuine work, not accidental skew;
    * AQE skew-join splits it at cluster scale. */
  /** Containment threshold as an exact rational (9/10), shared with the
    * q122 oracle. */
  val containTauNum = 9
  val containTauDen = 10

  /** Directed CONTAINMENT join — near-subset detection: pairs where ≥ τ
    * of document A's distinct 3-shingle set appears inside document B
    * (`C(A→B) = |A∩B| / |A|`). Jaccard misses these when B is much
    * longer (a quoted article inside a digest scores low symmetric
    * similarity but 100% containment); a dedup policy usually drops the
    * CONTAINED side. Prefix filtering adapts asymmetrically: only the
    * probe side A is prefix-reduced (rarest `n − ⌈τn⌉ + 1` elements);
    * the containing side B must be matchable on ANY of its elements, so
    * B contributes its full element list to the block join — the
    * classic probe-prefix × full-postings shape of containment
    * self-joins. Lossless for the same reason as [[setSimJoin]]: if
    * C(A→B) ≥ τ, fewer than p(A) of A's elements can be missing from B,
    * so A's rarest-first prefix must hit B.
    *
    * Scale shape: candidate volume is Σ over A-prefix elements of that
    * element's posting length — prefix elements are globally rare by the
    * df ordering, so postings are short; verification joins candidates
    * back to the element arrays and counts overlap with the
    * allocation-free sorted merge walk; threshold test is pure
    * integer. */
  def containmentJoin(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    containmentJoinOver(spark, Tables.documents(spark, dir), n)

  /** [[containmentJoin]]'s core over an arbitrary `(doc_id, text, …)`
    * relation — split out (round 9, after the sf10 probe) so the directed
    * audit can run over a reduced corpus (q178's keeper set) as well as
    * the raw `documents` table (q122). */
  def containmentJoinOver(spark: SparkSession, docs: DataFrame, n: Int = 3,
                          tauNum: Int = containTauNum,
                          tauDen: Int = containTauDen): DataFrame = {
    import spark.implicits._
    // the shingle STRINGS never leave this projection (the
    // ngramJaccardPairs discipline, applied here in round 17 after the
    // sf10b probe measured q178 at 358 s with three corpus-wide exchanges
    // of exploded 3-gram strings): df counting, the rarest-first re-sort,
    // the prefix×postings block join, and the per-pair intersection all
    // run on 64-bit shingle hashes — an order-of-magnitude lighter
    // exchange payload. Intersection counts over distinct-element hash
    // sets equal the string counts unless two distinct shingles of one
    // doc pair collide in 64 bits (~1e-16 at document scale; a collision
    // would surface as an oracle hash mismatch, not silence). The prefix
    // filter stays LOSSLESS under the changed tiebreak (df ties now break
    // by hash, not string): if C(A→B) ≥ τ, fewer than p(A) of A's
    // elements can miss B, so ANY p(A)-sized prefix of A hits B — the
    // rarest-first ordering is a block-size optimization, not a
    // correctness condition, and the oracle states the naive
    // any-shared-element form. `ts` is NUMERICALLY sorted (hash order —
    // no downstream step needs string order) so the per-pair intersection
    // runs as the allocation-free sortedIntersectCount merge walk.
    containmentJoinOverTs(
      graft.CacheGuard.barrier(
        docs
          .select($"doc_id", tsCol($"text", n).as("ts"))
          .filter(size($"ts") > 0)),
      tauNum, tauDen)
  }

  /** The per-doc audit-set projection shared by the exact set joins: the
    * SORTED 64-bit shingle-hash array (see the r17 hashed-shingle comment
    * in [[containmentJoinOver]] for why hashes, and why sorted). */
  private def tsCol(text: org.apache.spark.sql.Column, n: Int):
      org.apache.spark.sql.Column =
    array_sort(graft.functions.native.xxhash64Array(
      array_distinct(wordShingles(tokens(text), n))))

  /** [[containmentJoinOver]]'s core over a PRE-DERIVED `(doc_id, ts)`
    * relation — split out (round 18) so the keeper-audit composition can
    * feed it shingle sets hashed in the SAME barrier as the election
    * signatures instead of re-tokenizing the corpus. `dt` must already be
    * barriered (it is referenced five times below). */
  private def containmentJoinOverTs(dt: DataFrame, tauNum: Int,
                                    tauDen: Int): DataFrame = {
    val spark = dt.sparkSession
    import spark.implicits._
    // eager: the final plan's first action fans out into the dfreq/ord/
    // postings leaf stages CONCURRENTLY, and each would race to build the
    // cold dt cache (full build CPU per racer — see CacheGuard.eagerBarrier)
    dt.count()
    val dfreq = dt.select(explode($"ts").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("df"))
    val ord = dt.select($"doc_id", explode($"ts").as("t")).join(dfreq, "t")
      .groupBy($"doc_id")
      .agg(transform(array_sort(collect_list(struct($"df", $"t"))),
          x => x("t")).as("ots"),
        count(lit(1)).as("n"))
    val p = ($"n" - floor(($"n" * tauNum + (tauDen - 1)) /
      lit(tauDen.toDouble)) + 1).cast("int")
    val pref = ord.select($"doc_id".as("da"),
      explode(slice($"ots", lit(1), p)).as("pt"))
    val full = dt.select($"doc_id".as("db"), explode($"ts").as("pt"))
    val cand = pref.join(full, "pt")
      .filter($"da" =!= $"db")
      .select($"da", $"db").distinct()
    cand
      .join(dt.select($"doc_id".as("da"), $"ts".as("ta")), "da")
      .join(dt.select($"doc_id".as("db"), $"ts".as("tb")), "db")
      .select($"da".as("src"), $"db".as("dst"),
        graft.functions.native.sortedIntersectCount($"ta", $"tb").as("inter"),
        size($"ta").cast("long").as("n_src"))
      .filter($"inter" * tauDen >= $"n_src" * tauNum)
      .select($"src", $"dst", $"inter", $"n_src",
        Quant.r4($"inter".cast("double") / $"n_src".cast("double"))
          .as("containment"))
      .orderBy($"src", $"dst")
  }

  def setSimJoin(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    setSimJoinOver(spark, Tables.documents(spark, dir), n)

  /** [[setSimJoin]]'s core over an arbitrary `(doc_id, text, …)` relation —
    * split out so the exact audit can run over a reduced corpus (q175's
    * keeper set) as well as the raw `documents` table (q114). */
  def setSimJoinOver(spark: SparkSession, docs: DataFrame, n: Int = 3): DataFrame = {
    import spark.implicits._
    // 64-bit shingle hashes for every exchange (the containmentJoinOver /
    // ngramJaccardPairs discipline — see the r17 comment there): the
    // string shingles never leave this projection; df ties break by hash
    // (prefix losslessness is order-independent) and intersection/union
    // counts over distinct-element hash sets equal the string counts
    // modulo a ~1e-16 per-pair 64-bit collision an oracle hash mismatch
    // would expose. `ts` is NUMERICALLY sorted for the merge-walk
    // intersection (see containmentJoinOver).
    setSimJoinOverTs(graft.CacheGuard.barrier(
      docs
        .select($"doc_id", tsCol($"text", n).as("ts"))
        .filter(size($"ts") > 0)))
  }

  /** [[setSimJoinOver]]'s core over a PRE-DERIVED `(doc_id, ts)` relation
    * (the [[containmentJoinOverTs]] split, round 18). `dt` must already
    * be barriered — it is referenced four times below. */
  private def setSimJoinOverTs(dt: DataFrame): DataFrame = {
    val spark = dt.sparkSession
    import spark.implicits._
    // eager: see containmentJoinOverTs — concurrent leaf stages must scan
    // the dt cache, not race to build it
    dt.count()
    val dfreq = dt.select(explode($"ts").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("df"))
    // rarest-first order: per-doc token list re-sorted by (global df, token)
    val ord = dt.select($"doc_id", explode($"ts").as("t")).join(dfreq, "t")
      .groupBy($"doc_id")
      .agg(transform(array_sort(collect_list(struct($"df", $"t"))),
          x => x("t")).as("ots"),
        count(lit(1)).as("n"))
    // prefix length p = n − ⌈τn⌉ + 1, in exact integer arithmetic
    val p = ($"n" - floor(($"n" * setSimTauNum + (setSimTauDen - 1)) /
      lit(setSimTauDen.toDouble)) + 1).cast("int")
    // barrier: pref feeds BOTH sides of the candidate self-join — without
    // it the whole tokenize→df→rarest-first-collect subtree is planned
    // (and executed) twice, once per side; EAGER because the two join
    // sides are materialized as concurrent stages and would race to
    // build it (the round-18 job probe measured the ord chain built
    // twice, ~15 task-s against ~7.5 for one build)
    val pref = graft.CacheGuard.eagerBarrier(
      ord.select($"doc_id", explode(slice($"ots", lit(1), p)).as("pt")))
    val cand = pref.select($"doc_id".as("da"), $"pt")
      .join(pref.select($"doc_id".as("db"), $"pt"), "pt")
      .filter($"da" < $"db")
      .select($"da", $"db").distinct()
    cand
      .join(dt.select($"doc_id".as("da"), $"ts".as("ta")), "da")
      .join(dt.select($"doc_id".as("db"), $"ts".as("tb")), "db")
      .select($"da".as("doc_a"), $"db".as("doc_b"),
        graft.functions.native.sortedIntersectCount($"ta", $"tb").as("inter"),
        size($"ta").cast("long").as("na"), size($"tb").cast("long").as("nb"))
      .withColumn("union_sz", $"na" + $"nb" - $"inter")
      .drop("na", "nb")
      .filter($"inter" * setSimTauDen >= $"union_sz" * setSimTauNum)
      .select($"doc_a", $"doc_b", $"inter", $"union_sz",
        Quant.r4($"inter".cast("double") / $"union_sz".cast("double"))
          .as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Dedup-then-audit: the exact set-similarity join run over the
    * near-dup KEEPER corpus instead of the raw corpus — the composition
    * that makes the exact audit usable at 100 TB.
    *
    * The round-9 sf10 probe measured why the composition is required:
    * [[setSimJoin]] is lossless, so its output is Ω(true pairs), and true
    * pairs are QUADRATIC in duplication-cluster size — at the probe's
    * designed 100-replica clusters that is ~C(100,2) ≈ 5k pairs per
    * original document (~25M pairs corpus-wide, 110× the sf1 volume),
    * which no join algorithm can beat because it is the answer itself
    * (observed: >75 GB of shuffle spill, then heap exhaustion). Collapsing
    * near-dup clusters to their keepers FIRST ([[nearDupKeepers]]: banded
    * signatures, capped blocks, CC over pairs only — everything linear in
    * corpus + match volume) leaves the exact join a corpus with no intra-
    * cluster pairs left, so its output is only the genuine cross-cluster
    * borderline matches — the pairs a human actually reviews.
    *
    * Exactness is preserved, not approximated: over the keeper corpus the
    * rarest-first prefix filter is still lossless, so the result equals
    * "all pairs of keepers with true Jaccard ≥ τ" (spec-pinned identical
    * to filtering [[setSimJoin]]'s full output to keeper endpoints). */
  /** Keeper election for the audit compositions (q175/q178/q261), with
    * the shingle scan SHARED between election and audit (round 18; the
    * r17 close measured the double derivation — md5 sigs for election,
    * xxhash64 sets for the audit, each from its own tokenize pass — as
    * the suite's slowest family). ONE pass over `documents` tokenizes
    * each text once and hashes BOTH derived forms into one cache
    * barrier; the election consumes `sig`, the lazy audit consumes `ts`
    * (column-pruned scans of the same cached relation). Unlike
    * [[nearDupKeepers]]'s inline drop, the barrier must SURVIVE the
    * eager CC pass — `ts` is read by the returned audit relation — so
    * it stays registered for consumer release.
    *
    * Election math is bit-identical to [[nearDupKeepers]]: same banded
    * candidates, same verify-then-dedup, same CC labels; keeper ⇔
    * fixpoint label == own id. The cluster-size rollup and global sort
    * the q67 verdict report adds are NOT derived — the audits discarded
    * them, so computing them was dead work (guide §1.2).
    *
    * Returns (keeper ids, doubled `(doc_id, ts)` audit sets — every
    * corpus doc with a non-empty `auditN`-shingle set; join against the
    * keeper ids to restrict). */
  private def keeperAuditElection(spark: SparkSession, dir: String,
                                  auditN: Int, shingleN: Int = 3,
                                  perms: Int = 16, bands: Int = 4,
                                  threshold: Double = 0.5):
      (DataFrame, DataFrame) = {
    import spark.implicits._
    val toks = tokens($"text")
    val sigArr = array_distinct(wordShingles(toks, shingleN))
    val audArr = array_distinct(wordShingles(toks, auditN))
    // No filter BELOW the cache: a pushed-down emptiness predicate would
    // re-derive the whole shingle tower once more per row in the filter
    // (Catalyst substitutes the aliases), and sub-shingle docs are a
    // (doc_id, null, []) row — cheaper to cache than to re-tokenize for.
    // Consumers filter ABOVE the cached projection. when() keeps
    // md5MinHashSig off empty arrays (shingleArrays applied the same cut
    // as a pre-filter); with auditN == shingleN (every caller) the two
    // shingle subtrees are semantically equal and subexpression
    // elimination evaluates them once.
    val shingledPlan = Tables.fannedDocuments(spark, dir)
      .select($"doc_id",
        when(size(sigArr) > 0,
          graft.functions.native.md5MinHashSig(sigArr, perms)).as("sig"),
        array_sort(graft.functions.native.xxhash64Array(audArr)).as("ts"))
    // same dual storage regime as md5BandedCands (and the same gate, so
    // the fan-out and the checkpoint switch together): fanned corpus →
    // eager localCheckpoint leaf (one parallel build, no stage race,
    // planned once); small/serial corpus → r17's eager cache barrier
    // (one 1-partition fill job; a checkpoint would add nothing and the
    // barrier keeps the sf0.1 plan shape identical to the r17 close).
    val shingled =
      if (Tables.unsplittable(spark, dir, "documents"))
        graft.CacheGuard.checkpointLeaf(shingledPlan)
      else graft.CacheGuard.eagerBarrier(shingledPlan)
    val cand = md5BandedCandsOver(
      withDupCopies(shingled.filter($"sig".isNotNull)
        .select($"doc_id", $"sig")),
      perms, bands)
    val pairs = verifiedPairs(cand, perms, threshold)
    val comps = Components.connectedComponents(pairs.select($"a", $"b"))
    val ids = dupCorpus(spark, dir).select($"doc_id")
    val keepers = ids.join(comps, ids("doc_id") === comps("node"), "left")
      .filter(coalesce($"component", $"doc_id") === $"doc_id")
      .select($"doc_id")
    val auditTs = withDupCopies(
      shingled.filter(size($"ts") > 0).select($"doc_id", $"ts"))
    (keepers, auditTs)
  }

  def setSimJoinKeepers(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    import spark.implicits._
    val (keepers, auditTs) = keeperAuditElection(spark, dir, auditN = n)
    val seedTs = setSimSeeds(spark, dir)
      .select($"doc_id", tsCol($"text", n).as("ts"))
      .filter(size($"ts") > 0)
    val dt = auditTs.join(keepers, "doc_id").select($"doc_id", $"ts")
      .unionByName(seedTs)
    setSimJoinOverTs(graft.CacheGuard.barrier(dt))
  }

  /** Seeded borderline-pair fixture for [[setSimJoinKeepers]] (the q178
    * seeded-digest convention): after keeper election the driver corpus
    * has NO surviving τ-pairs, so without a seed the gate's oracle row is
    * vacuously green — 0 Spark rows ≡ 0 oracle rows, proving emptiness
    * rather than the join. The audit's target class — genuine
    * cross-cluster BORDERLINE matches — is therefore seeded: per
    * `setSimSeedStride`-th base document, two novel synthetic-token texts
    * A and B of `setSimSeedLen` tokens sharing all but the last
    * `setSimSeedDiv*` tokens. Tokens embed the source doc_id
    * (`sd<id>x<i>` / `sd<id>y<i>`), so seeds never shingle-collide with
    * natural text, with other seeds, or with keeper documents — each
    * seeded pair is exactly one candidate, with EXACT set arithmetic:
    * n-gram trigrams give inter = L−2−D, union = L−2+D, so the designed
    * Jaccard brackets τ = 3/5 from both sides —
    * D=5 → 16/26 ≈ .6154 (accepted, one output row) for `doc_id % 20 ==
    * 0`, D=6 → 15/27 ≈ .5556 (a candidate the threshold must REJECT)
    * otherwise. The gate thus exercises the full value surface (inter,
    * union, quantized jaccard) and both sides of the τ comparison at
    * every SF. Novel texts survive keeper election by construction, so
    * seeding composes with (not perturbs) the election — the spec pins
    * the keeper form equal to the full join over corpus ∪ seeds filtered
    * to keeper ∪ seed endpoints. */
  val setSimSeedStride = 10L
  val setSimSeedOffsetA: Long = 3L * dupOffset
  val setSimSeedOffsetB: Long = 4L * dupOffset
  val setSimSeedLen = 23
  val setSimSeedDivAccept = 5
  val setSimSeedDivReject = 6

  def setSimSeeds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // tokens embed the BASE id via src_id: an output column also named
    // doc_id would otherwise win lateral-column-alias resolution and the
    // A/B rows would embed their DIFFERENT shifted ids — never pairing
    def tok(tag: String): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      i => concat(lit("sd"), $"src_id".cast("string"), lit(tag),
        i.cast("string"))
    val base = Tables.documents(spark, dir)
      .filter($"doc_id" % setSimSeedStride === 0)
      .select($"doc_id".as("src_id"),
        when($"doc_id" % (2 * setSimSeedStride) === 0, setSimSeedDivAccept)
          .otherwise(setSimSeedDivReject).as("d"))
    val a = base.select(($"src_id" + setSimSeedOffsetA).as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(setSimSeedLen - 1)),
        tok("x"))).as("text"))
    val b = base.select(($"src_id" + setSimSeedOffsetB).as("doc_id"),
      concat_ws(" ", concat(
        transform(sequence(lit(0), lit(setSimSeedLen - 1) - $"d"), tok("x")),
        transform(sequence(lit(0), $"d" - 1), tok("y")))).as("text"))
    a.unionByName(b)
  }

  /** Dedup-then-audit, directed form (q178): [[containmentJoin]] over the
    * near-dup keeper corpus — q175's composition applied to the
    * quoted/partial-copy detector. The round-9 sf10 probe KILLED the
    * uncomposed q122 on disk (its single-shingle candidate generation is
    * un-prefix-filtered on the db side by construction — a dst document
    * must be found from ANY shared shingle, so candidate volume grows
    * with true-match volume, quadratic in duplication-cluster size;
    * >80 GB of shuffle before the executor ran out of space). Over the
    * keeper corpus intra-cluster candidates no longer exist, so the
    * audit's output — genuine cross-cluster quotations — stays linear in
    * corpus + match volume, exactly as q175 documents for the symmetric
    * join. Semantics preserved: equal to filtering the full directed join
    * to keeper endpoints (spec-pinned). */
  /** Post-dedup audit threshold (1/2): near-identity pairs are gone by
    * construction after keeper election, so the audit hunts PARTIAL
    * copies — quotations, excerpts, digests — where half of a document's
    * shingles reappear elsewhere. q122's 9/10 bar would find only the
    * near-identity class the dedup just removed. */
  val containKeepTauNum = 1
  val containKeepTauDen = 2

  /** Seeded-digest fixture for q178 (the q169 convention: the audit's
    * target class is seeded because the driver corpus has none): every
    * `digestStride`-th document is concatenated with its successor into a
    * "digest" row at `doc_id + 2·dupOffset` — the quoted-article-inside-
    * a-digest shape the containment doc motivates. Digests are novel
    * texts (never collapsed by keeper election), their sources are
    * keepers, so the audit MUST surface genuine src→digest partial-copy
    * pairs. */
  val digestStride = 10L
  val digestOffset: Long = 2L * dupOffset

  /** Digests are seeded from KEEPER sources, not the raw base table
    * (round-10 fix, measured at sf10): both the digest's lead document
    * and its successor must have survived keeper election. At the gate
    * SFs every base document is its own cluster's keeper, so the output
    * is unchanged — but on replica-cloned probe data the raw-table form
    * seeds ~100 near-identical digests per base pair (the replicas),
    * and those digest CLUSTERS re-introduce exactly the quadratic
    * candidate volume the keeper composition exists to remove (the
    * round-10 sf10 run spilled >70 GB and exhausted the disk inside the
    * digest-digest candidate join). Dedup-then-seed keeps the audited
    * corpus — keepers AND seeds — duplicate-free by construction. */
  def containmentJoinKeepers(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    import spark.implicits._
    val (keepers, auditTs) = keeperAuditElection(spark, dir, auditN = n)
    // referenced twice below (digest seeding + the audit restriction)
    val keeperIds = graft.CacheGuard.barrier(keepers)
    // Digest leads/successors are BASE-id keepers only (doc_id <
    // dupOffset), and since round 17 the oracle's `dig` CTE applies the
    // IDENTICAL window — the unrestricted documents join agreed with this
    // filter only while every base id was < dupOffset, which the
    // 10M-stride sf1+ probes violate (their replica keepers seeded oracle
    // digests the Spark side correctly refused: ids ≥ digestOffset +
    // dupOffset would break the invariant below and alias through
    // quoteFlows' baseId). The window is a FIXTURE choice: the digest
    // corpus is the synthetic quote-bearing audit set, and the operator
    // under test (containmentJoinOver) is id-agnostic. Round-11 advice
    // fix; r17 sf1 differential. Min-label keeper election
    // makes a dup-copy keeper (id ≥ dupOffset) possible only for a copy
    // whose cluster somehow excludes its base twin (e.g. a sub-shingle
    // doc with no signature) — such a keeper must not seed a digest the
    // oracle cannot see, and its `+ digestOffset` id would alias a
    // nonexistent base document in [[quoteFlows]]'s `baseId` mapping.
    // The runtime guard turns any base-range violation that DOES reach a
    // digest into a loud error instead of a silent oracle divergence.
    // base-id keeper texts, read once for the digest self-join (the only
    // step that still needs TEXT — keeper audit sets come pre-hashed from
    // the election barrier)
    val base = graft.CacheGuard.barrier(
      Tables.documents(spark, dir).select($"doc_id", $"text")
        .filter($"doc_id" < dupOffset)
        .join(keeperIds, "doc_id"))
    val digests = base.as("x")
      .join(base.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
      .filter(col("x.doc_id") % digestStride === 0)
      .select((col("x.doc_id") + digestOffset).as("doc_id"),
        concat(col("x.text"), lit(" "), col("y.text")).as("text"))
      // keeper-range invariant, asserted IN the operator (not only in
      // DedupSpec): a digest id outside [digestOffset, digestOffset +
      // dupOffset) would alias a nonexistent base doc downstream —
      // raise instead of diverging silently. assert_true yields NULL on
      // pass (rows kept), throws on violation; nullable, so the filter
      // is not constant-folded away.
      .filter(assert_true(
        $"doc_id" >= digestOffset && $"doc_id" < digestOffset + dupOffset,
        lit("q178 digest id outside base range — keeper invariant broken")).isNull)
    val digestTs = digests
      .select($"doc_id", tsCol($"text", n).as("ts"))
      .filter(size($"ts") > 0)
    val dt = auditTs.join(keeperIds, "doc_id").select($"doc_id", $"ts")
      .unionByName(digestTs)
    containmentJoinOverTs(graft.CacheGuard.barrier(dt),
      containKeepTauNum, containKeepTauDen)
  }

  /** BAND COLLISION AUDIT (q258) — the health report of the LSH banding
    * itself, per band index: how many distinct slice values exist, how
    * many collide (non-singleton), the largest block, how many blocks
    * the [[bandBlockCap]] truncates, and the candidate-pair mass
    * Σ C(block,2) the band would generate uncapped. This is the table
    * that justifies (or re-tunes) the cap: a band whose max block and
    * capped count spike is hashing degenerate content (near-empty docs,
    * boilerplate), and the pair mass column prices exactly what the
    * q55/q67 family's self-join would pay there. Bands behave
    * identically on healthy data, so a BAND-SKEWED row is itself a
    * finding (a biased permutation slice).
    *
    * Scale shape: one pass over the audited signature relation,
    * exploded ×bands; one (band, slice) count then an O(bands) rollup —
    * the exchange carries small integer keys, output is `bands` rows. */
  def bandCollisionAudit(spark: SparkSession, dir: String,
                         shingleN: Int = 3, perms: Int = 16,
                         bands: Int = 4): DataFrame = {
    import spark.implicits._
    val rows = perms / bands
    val sig = md5SigCorpus(spark, dir, shingleN, perms)
    val blocks = sig
      .select(posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice($"sig", b * lit(rows) + 1, lit(rows)))).as(Seq("band", "bk")))
      .groupBy($"band", $"bk")
      .agg(count(lit(1)).as("bsz"))
    blocks.groupBy($"band")
      .agg(
        sum($"bsz").as("n_docs"),
        count(lit(1)).as("n_slices"),
        sum(when($"bsz" > 1, 1L).otherwise(0L)).as("n_colliding_slices"),
        max($"bsz").as("max_block"),
        sum(when($"bsz" > bandBlockCap, 1L).otherwise(0L))
          .as("n_capped_blocks"),
        sum(expr("bsz * (bsz - 1) div 2")).as("pair_mass"))
      .select($"band".cast("int").as("band"), $"n_docs", $"n_slices",
        $"n_colliding_slices", $"max_block", $"n_capped_blocks",
        $"pair_mass".cast("long").as("pair_mass"))
      .orderBy($"band")
  }

  /** QUOTATION FLOW MATRIX (q261) — the q178 directed keeper audit
    * rolled up to the SOURCE-pair level: who quotes whom. Each audited
    * pair maps its endpoints to base documents (digest rows inherit
    * their lead document's identity via `− digestOffset`), joins the
    * source dimension, and the rollup reports per (src_source,
    * dst_source): pair volume, how many flows land in seeded digests,
    * and the WEIGHTED containment Σinter·10⁴ div Σn_src — exact
    * integers (a mean of per-pair ratios would weight a 10-shingle
    * quote like a 100-shingle one). The matrix is the syndication map
    * an editorial/licensing review reads — and the per-pair q178 rows
    * remain the drill-down.
    *
    * Scale shape: everything downstream of the audited q178 relation
    * is two base-id joins against the (broadcastable) source dimension
    * and one O(source-pairs) rollup. */
  def quoteFlows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // digest detection is RANGE-bounded, not open-ended: digests live in
    // [digestOffset, digestOffset + dupOffset) by the q178 invariant; an
    // id domain ABOVE that window (the sf1+ probes' 10M-stride replica
    // keys) must map to itself — `c >= digestOffset` alone subtracted the
    // offset from every replica id, aliasing nonexistent documents (the
    // r17 sf1 differential caught it; same failure class as r16's q317
    // base-id recovery)
    def baseId(c: org.apache.spark.sql.Column) =
      when(c >= digestOffset && c < digestOffset + dupOffset,
        c - digestOffset).otherwise(c)
    val srcs = Tables.documents(spark, dir).select($"doc_id", $"source")
    containmentJoinKeepers(spark, dir)
      .select(baseId($"src").as("sb"), baseId($"dst").as("db"),
        ($"dst" >= digestOffset && $"dst" < digestOffset + dupOffset)
          .as("into_digest"), $"inter", $"n_src")
      .join(srcs.select($"doc_id".as("sb"), $"source".as("src_source")), "sb")
      .join(srcs.select($"doc_id".as("db"), $"source".as("dst_source")), "db")
      .groupBy($"src_source", $"dst_source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"into_digest", 1L).otherwise(0L)).as("n_into_digests"),
        sum($"inter").as("sum_inter"),
        sum($"n_src").as("sum_n_src"))
      .select($"src_source", $"dst_source", $"n_pairs", $"n_into_digests",
        $"sum_inter", $"sum_n_src",
        expr("sum_inter * 10000 div sum_n_src").as("w_containment_u4"))
      .orderBy($"src_source", $"dst_source")
  }

  /** Sweep thresholds for [[dedupThresholdSweep]] — multiples of 1/16
    * (the 16-perm signature's estimate granularity), so every comparison
    * against an estimated Jaccard is exact in both engines. */
  val sweepThresholds: Seq[Double] = Seq(0.5, 0.625, 0.75, 0.875, 1.0)

  /** Dedup threshold TUNING CURVE — the report a corpus builder reads
    * before picking τ: for each candidate threshold, how many candidate
    * pairs survive and how many documents they touch (the removal
    * surface). One pass over the q55 md5-family pair relation (no
    * per-threshold re-run): pairs cross-join the 5-row threshold table
    * and both aggregates — pair counts, and distinct touched docs via an
    * explode of the two endpoints — derive from the same filtered
    * relation behind a cache barrier.
    *
    * Scale shape: the pair stage is q55's audited band self-join; the
    * sweep adds O(pairs × thresholds) post-filter rows and a distinct on
    * (threshold, doc) — both bounded by match volume, never corpus
    * volume. The threshold table broadcasts. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (pairs, _) = md5MinHashPairs(spark, dir,
      shingleN = 3, perms = 16, bands = 4, threshold = 0.0)
    val cached = graft.CacheGuard.barrier(pairs)
    val th = sweepThresholds.toDF("threshold")
    val surviving = cached.crossJoin(broadcast(th))
      .filter($"est_jaccard" >= $"threshold")
    val nPairs = surviving.groupBy($"threshold")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = surviving
      .select($"threshold", explode(array($"a", $"b")).as("d"))
      .groupBy($"threshold")
      .agg(countDistinct($"d").as("n_docs_affected"))
    val total = withDupCopies(
      Tables.documents(spark, dir).select($"doc_id"))
      .agg(count(lit(1)).as("n_total"))
    nPairs.join(nDocs, "threshold")
      .crossJoin(broadcast(total))
      .select($"threshold", $"n_pairs", $"n_docs_affected",
        Quant.r4($"n_docs_affected".cast("double") / $"n_total".cast("double"))
          .as("frac_affected"))
      .orderBy($"threshold")
  }

  /** Dedup POLICY recommendation (q174) — the q138 sweep, the q160
    * detector comparison, and the q150 accuracy discipline composed into
    * ONE per-threshold decision table, so "which detector at which τ" is
    * a query result instead of a judgment call. Per candidate τ (the
    * 1/16-aligned [[sweepThresholds]]):
    *
    *   - removal surface: surviving MinHash pairs, distinct documents
    *     touched, fraction of the corpus (q138's columns);
    *   - detector agreement: how many of those pairs SimHash also finds
    *     (q159's banded pair set) and the agreement rate — a low rate at
    *     loose τ means the two detectors are modeling different
    *     phenomena there, a high rate means either detector suffices;
    *   - estimated precision from SEEDED ground truth: the shifted
    *     exact copies are true duplicates by construction, so
    *     `n_seeded / n_pairs` is a precision LOWER BOUND (non-seeded
    *     survivors may be genuine organic near-dups — at τ→1 the bound
    *     tightens toward the true rate).
    *
    * The recommendation reading: pick the loosest τ whose precision
    * bound and agreement rate are both acceptable — the table makes the
    * trade explicit per step of the estimate's native 1/16 grid.
    *
    * Scale shape: ONE pass over the q55-audited band self-join (no
    * per-τ re-run; the 5-row τ table broadcasts), one full-outer-free
    * left join against the equally-banded SimHash pairs on O(pairs)
    * keys, and O(pairs × 5) post-filter rows into two keyed rollups
    * (the distinct-doc count via endpoint explode, bounded by match
    * volume, never corpus volume). All ratios are u4-floored
    * ratios-of-counts — exact in both engines. */
  def dedupPolicyReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (pairs0, _) = md5MinHashPairs(spark, dir,
      shingleN = 3, perms = 16, bands = 4, threshold = 0.0)
    val sh = simHashPairs(spark, dir)
      .select($"a", $"b", lit(true).as("in_sh"))
    val pairs = graft.CacheGuard.barrier(
      pairs0.join(sh, Seq("a", "b"), "left")
        .select($"a", $"b", $"est_jaccard",
          coalesce($"in_sh", lit(false)).as("in_sh")))
    val th = sweepThresholds.toDF("threshold")
    val surviving = pairs.crossJoin(broadcast(th))
      .filter($"est_jaccard" >= $"threshold")
    val perTau = surviving.groupBy($"threshold")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"in_sh", 1L).otherwise(0L)).as("n_both"),
        sum(when($"b" === $"a" + dupOffset, 1L).otherwise(0L))
          .as("n_seeded"))
    val nDocs = surviving
      .select($"threshold", explode(array($"a", $"b")).as("d"))
      .groupBy($"threshold")
      .agg(countDistinct($"d").as("n_docs_affected"))
    val total = withDupCopies(
      Tables.documents(spark, dir).select($"doc_id"))
      .agg(count(lit(1)).as("n_total"))
    perTau.join(nDocs, "threshold")
      .crossJoin(broadcast(total))
      .select($"threshold", $"n_pairs", $"n_docs_affected",
        Quant.r4($"n_docs_affected".cast("double") / $"n_total".cast("double"))
          .as("frac_affected"),
        $"n_both",
        Quant.r4($"n_both".cast("double") / $"n_pairs".cast("double"))
          .as("agree_rate"),
        $"n_seeded",
        Quant.r4($"n_seeded".cast("double") / $"n_pairs".cast("double"))
          .as("precision_lb"))
      .orderBy($"threshold")
  }

  /** Mirror stride for [[sourceOverlapMatrix]]'s seeded fixture, shared
    * with the q169 oracle and spec: every doc with `doc_id % 7 == 0`
    * re-appears under the cyclically NEXT source. */
  val overlapMirrorStride = 7

  /** Cross-SOURCE duplication matrix — "which sources mirror each
    * other": for every source pair sharing at least one exact
    * fingerprint, the shared-fingerprint count and the Jaccard overlap
    * of the two sources' fingerprint sets. This is the dedup PRIORITY
    * artifact a corpus team reads before scheduling cross-source dedup
    * (Common Crawl dumps overlap massively dump-to-dump; mirrors and
    * aggregators reproduce whole feeds) — q18 tells you how many
    * copies exist, this tells you WHERE they concentrate.
    *
    * The driver corpus has no cross-source duplicates by construction
    * (verified), so the fixture seeds its own ground truth, the
    * q165/q166 convention: every `doc_id % 7 == 0` document re-appears
    * (new doc_id) under the cyclically next source, giving each
    * adjacent source pair a KNOWN overlap the spec replays exactly.
    *
    * Scale shape: one fingerprint-keyed aggregate collapses each fp to
    * its distinct source SET (state bounded by |sources|, the set, not
    * the corpus — same bound as q10's distinct-collect); the pair
    * fan-out per fp is C(|sources with fp|, 2), and a boilerplate fp
    * present in THOUSANDS of domains would fan quadratically — at that
    * scale the set is capped before expansion (the q159
    * `Guards.capHotKeys` discipline: boilerplate shared by every
    * domain carries no pair-specific signal). Per-source totals are
    * O(sources) and broadcast into the Jaccard. */
  def sourceOverlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id", $"source", $"text")
    val mirrored = base
      .filter($"doc_id" % overlapMirrorStride === 0)
      .select(($"doc_id" + 200000L).as("doc_id"),
        concat(lit("src"),
          ((substring($"source", 4, 10).cast("int") + 1) % 20).cast("string"))
          .as("source"),
        $"text")
    val corpus = base.unionByName(mirrored)
      .select($"source", fingerprint($"text").as("fp"))
    val bySrc = corpus.distinct()
    val perSource = bySrc.groupBy($"source").agg(count(lit(1)).as("n_fps"))
    val pairs = bySrc
      .groupBy($"fp").agg(collect_set($"source").as("ss"))
      .filter(size($"ss") > 1)
      .select($"fp", explode($"ss").as("src_a"), $"ss")
      .select($"fp", $"src_a", explode($"ss").as("src_b"))
      .filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(perSource.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n_fps", "fps_a")), "src_a")
      .join(broadcast(perSource.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n_fps", "fps_b")), "src_b")
      .select($"src_a", $"src_b", $"n_shared", $"fps_a", $"fps_b",
        Quant.r4($"n_shared".cast("double") /
          ($"fps_a" + $"fps_b" - $"n_shared").cast("double"))
          .as("jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  /** Keeper-POLICY comparison — which document should survive a dedup
    * cluster? Three deterministic elections over the SAME connected
    * components (the τ=0.2 pair graph, mirrored ids mapped out):
    *   - `min_id`: the pipeline default (q18/q48's rule — stable,
    *     arbitrary),
    *   - `max_quality`: keep the best-scoring member (q26's score,
    *     ties to the smaller id),
    *   - `max_degree`: keep the cluster's hub (most near-dup
    *     neighbors — the "canonical version" heuristic; ties smaller
    *     id).
    * Per policy: cluster count, the kept corpus's mean quality and
    * total tokens — the table that turns "which keeper rule" from
    * folklore into numbers (min_id's kept quality is the baseline the
    * other two must beat).
    *
    * Scale shape: one CC run (q48's rounds), per-cluster elections as
    * `max(struct(key, −id))` partial-aggregable rollups — never a
    * window over members — and one keeper-keyed join back to the doc
    * features. */
  def keeperPolicyReport(spark: SparkSession, dir: String,
                         threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.{stopwordCount, tokens}
    // checkpoint leaf (round 18): the edge relation feeds CC, the degree
    // rollup's two legs, and the member build — a lazy barrier is raced
    // cold by those concurrent leaf stages, a leaf is built once
    val edges = graft.CacheGuard.checkpointLeaf(
      minHashLshPairsOracled(spark, dir, threshold = threshold)
        .select(($"a" % 100000).as("x"), ($"b" % 100000).as("y"))
        .filter($"x" =!= $"y")
        .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
        .distinct())
    val cc = Components.connectedComponents(edges)
      .select($"node", $"component")
    val deg = edges.select($"a".as("node"))
      .unionByName(edges.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val toksC = tokens($"text")
    val feats = Tables.documents(spark, dir).select(
      $"doc_id".as("node"),
      floor(TextAnalysis.qualityExpr(size(toksC).cast("long"),
        stopwordCount(toksC, TextAnalysis.stopwords).cast("long")) * 1e4
        + lit(0.5)).cast("long").as("q_u4"),
      size(toksC).cast("long").as("nt"))
    // leaf, not barrier: six concurrent references (three elections × a
    // rollup + a join-back each) would race a cold cache
    val members = graft.CacheGuard.checkpointLeaf(
      cc.join(deg, "node").join(feats, "node"))
    def elect(policy: String, keyCol: org.apache.spark.sql.Column) = {
      val keepers = members.groupBy($"component")
        .agg(max(struct(keyCol.as("k"), (-$"node").as("neg"))).as("e"))
        .select($"component", (-$"e.neg").as("node"))
      keepers.join(members, Seq("component", "node"))
        .agg(count(lit(1)).as("n_clusters"),
          sum($"q_u4").as("sq"), sum($"nt").as("kept_tokens"))
        .select(lit(policy).as("policy"), $"n_clusters",
          expr("sq div n_clusters").as("mean_quality_u4"), $"kept_tokens")
    }
    elect("min_id", -$"node")
      .unionByName(elect("max_quality", $"q_u4"))
      .unionByName(elect("max_degree", $"deg"))
      .orderBy($"policy")
  }

  /** Dedup TOKEN-SAVINGS report — the cost dimension q174's policy
    * table leaves out: a dedup decision is ultimately "how many
    * training tokens does this policy free", so per method report docs
    * removed AND tokens removed. Two policies side by side:
    *   - `exact`: fingerprint groups keep the min doc id (q18's rule) —
    *     every later copy's tokens are savings,
    *   - `near_pair_greedy`: each minhash pair at τ=0.2 (mirrored ids
    *     mapped out, canonical a<b) drops the LARGER id — the greedy
    *     per-pair policy between q18's exact and q67's CC-keeper
    *     election (CC-based removal is q149/q153's job; greedy needs no
    *     component computation and bounds it from below).
    * All-integer: counts, token sums, savings in basis points.
    *
    * Scale shape: one tokenize scan for per-doc token counts (cached);
    * exact savings need one fingerprint groupBy + a keeper anti-join;
    * greedy savings collapse the pair relation to DISTINCT removed ids
    * before the one token join. No CC rounds, no self-joins beyond the
    * banded pair chain. */
  /** DUP-FARM CLUSTER REPORT (q254) — the review artifact behind keeper
    * election: one row per non-trivial near-dup cluster (the q67
    * keeper-labeled clusters over the doubled corpus) with membership
    * volume, how many members are base documents vs re-arrivals, the
    * distinct-source spread (a cluster spanning sources is syndication
    * or scraping-of-scrapers — the case a human reviews; a same-source
    * cluster is self-re-crawl — the case automation just deletes), the
    * member quality range, and the id span. The q174 policy table says
    * which τ to run; THIS is what an operator looks at before approving
    * the deletion list at that τ.
    *
    * Scale shape: the cluster labels are the audited q67 chain; the
    * report adds one base-id feature join (per-row `% dupOffset`
    * arithmetic — copies inherit their original's features without
    * re-tokenizing) and one keeper-keyed rollup with partial-aggregable
    * counters — O(clusters) output. */
  def dupClusterReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.{stopwordCount, tokens}
    val toksC = tokens($"text")
    val feats = Tables.documents(spark, dir).select(
      $"doc_id".as("base_id"), $"source",
      floor(TextAnalysis.qualityExpr(size(toksC).cast("long"),
        stopwordCount(toksC, TextAnalysis.stopwords).cast("long")) * 1e4
        + lit(0.5)).cast("long").as("q_u4"))
    nearDupKeepers(spark, dir)
      .filter($"cluster_size" > 1)
      .withColumn("base_id", $"doc_id" % dupOffset)
      .join(feats, "base_id")
      .groupBy($"keeper")
      .agg(count(lit(1)).as("n_members"),
        sum(when($"doc_id" < dupOffset, 1L).otherwise(0L)).as("n_base"),
        countDistinct($"source").as("n_sources"),
        min($"q_u4").as("q_min_u4"), max($"q_u4").as("q_max_u4"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"keeper")
  }

  def dedupSavings(spark: SparkSession, dir: String,
                   threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.{fingerprint, tokens}
    val docs = graft.CacheGuard.barrier(
      Tables.documents(spark, dir).select($"doc_id",
        fingerprint($"text").as("fp"),
        size(tokens($"text")).cast("long").as("nt")))
    val totals = docs.agg(count(lit(1)).as("n_docs"),
      sum($"nt").as("tokens_total"))
    // exact: keeper = min doc id per fingerprint; the rest are removed
    val keepers = docs.groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"))
      .select($"fp".as("k_fp"), $"keep_id")
    val exactRemoved = docs.join(keepers,
        docs("fp") === $"k_fp" && docs("doc_id") === $"keep_id", "left_anti")
      .agg(count(lit(1)).as("n_removed"), sum($"nt").as("tokens_removed"))
    // near greedy: each canonical pair drops its larger id, once
    val removedIds = minHashLshPairsOracled(spark, dir,
        threshold = threshold)
      .select(($"a" % 100000).as("x"), ($"b" % 100000).as("y"))
      .filter($"x" =!= $"y")
      .select(greatest($"x", $"y").as("doc_id"))
      .distinct()
    val nearRemoved = docs.join(removedIds, "doc_id")
      .agg(count(lit(1)).as("n_removed"), sum($"nt").as("tokens_removed"))
    def row(method: String, removed: DataFrame) =
      removed.crossJoin(broadcast(totals))
        .select(lit(method).as("method"), $"n_docs", $"tokens_total",
          coalesce($"n_removed", lit(0L)).as("n_removed"),
          coalesce($"tokens_removed", lit(0L)).as("tokens_removed"),
          expr("coalesce(tokens_removed, 0) * 10000 div tokens_total")
            .as("savings_bp"))
    row("exact", exactRemoved)
      .unionByName(row("near_pair_greedy", nearRemoved))
      .orderBy($"method")
  }

  /** Fragment-stitch fixture constants (id offsets clear of the
    * dup/digest/setsim/edit ranges; shared with the q272 oracle): every
    * [[stitchStride]]-th document with ≥ 12 tokens ships as TWO
    * fragments — a head (first 3n/5 tokens, id + [[stitchHeadOffset]])
    * and a tail (id + [[stitchTailOffset]]) that re-starts exactly
    * [[stitchOverlap]] tokens before the head ends, the fixed-overlap
    * convention of a q87-style chunker. */
  val stitchStride = 11L
  val stitchHeadOffset = 700000L
  val stitchTailOffset = 800000L
  val stitchOverlap = 5

  /** FRAGMENT STITCHING (q272) — crawl/chunk continuation detection:
    * when an upstream chunker (or a truncating crawler that re-fetches)
    * emits overlapping fragments with a FIXED overlap width o, fragment
    * B continues fragment A iff A's last o tokens equal B's first o
    * tokens exactly. This operator indexes every document's boundary
    * o-grams (one md5 key per side per doc) and equi-joins tails to
    * heads — the reassembly candidate list a fragment-dedup pass (cut
    * the duplicated overlap, splice the stream) consumes; `seeded`
    * marks the fixture's designed head→tail pairs, and natural
    * same-boundary collisions in the base corpus ride along as exactly
    * the false-positive load the consumer must verify (both engines
    * enumerate them identically).
    *
    * Scale shape: two per-row boundary projections and ONE equi-join on
    * the md5 boundary key — O(corpus) rows, no self-join fan-out beyond
    * genuine key collisions (bounded by boundary-vocabulary mass, the
    * same profile as any fingerprint join). */
  def fragmentStitch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = stitchOverlap
    val base = Tables.documents(spark, dir)
      .select($"doc_id", tokens($"text").as("tk"))
    val frag = base
      .filter($"doc_id" % stitchStride === 0 && size($"tk") >= 12)
      .select($"doc_id", $"tk",
        greatest(lit(o), expr("3 * size(tk) div 5")).cast("int").as("h"))
    val corpus = base
      .unionByName(frag.select(($"doc_id" + stitchHeadOffset).as("doc_id"),
        slice($"tk", lit(1), $"h").as("tk")))
      .unionByName(frag.select(($"doc_id" + stitchTailOffset).as("doc_id"),
        slice($"tk", $"h" - (o - 1), size($"tk") - $"h" + o).as("tk")))
      .filter(size($"tk") >= o)
      .select($"doc_id", $"tk", size($"tk").cast("long").as("n"))
    val heads = corpus.select($"doc_id".as("a"), $"n".as("a_len"),
      md5(array_join(slice($"tk", ($"n" - (o - 1)).cast("int"), lit(o)), " "))
        .as("key"))
    val tails = corpus.select($"doc_id".as("b"), $"n".as("b_len"),
      md5(array_join(slice($"tk", 1, o), " ")).as("key"))
    heads.join(tails, "key")
      .filter($"a" =!= $"b")
      .select($"a", $"b", $"a_len", $"b_len",
        ($"a_len" + $"b_len" - o).as("stitched_len"),
        ($"a" >= stitchHeadOffset && $"a" < stitchTailOffset &&
          $"b" === $"a" + (stitchTailOffset - stitchHeadOffset))
          .as("seeded"))
      .orderBy($"a", $"b")
  }

  /** NEAR-DUP CLUSTER COHESION (q273) — edge density of each recovered
    * cluster: the q67 components are built from BANDED candidate edges,
    * so a cluster can be a clique (every member pair surfaced — a tight
    * duplicate set) or a sparse chain (members linked transitively
    * through middlemen — the over-merge signature that precedes a bad
    * keeper election). Per cluster: members, recovered edges, the
    * clique bound n(n−1)/2, and cohesion = edges/clique in exact u4 —
    * the audit that separates "LSH found a duplicate family" from
    * "banding chained strangers", which q150 (per-pair accuracy), q160
    * (detector agreement) and q254 (membership report) cannot express.
    *
    * Scale shape: the pair relation and CC labels are the audited q55/
    * q67 shapes (built ONCE — the signature pipeline is shared, not
    * re-run); the cohesion rollup is one join of edges to labels on the
    * edge's a-side plus two keeper-keyed aggregates. Clique arithmetic
    * is in-row integer work; output O(clusters). */
  def clusterCohesion(spark: SparkSession, dir: String,
                      shingleN: Int = 3, perms: Int = 16,
                      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val (pairs0, sigCached) =
      md5MinHashPairs(spark, dir, shingleN, perms, bands, threshold)
    // checkpoint leaf: the edge relation feeds BOTH the CC build and the
    // edge count — a leaf is built once and scanned per reference (and CC
    // skips its own defensive entry cut for it)
    val pairs = graft.CacheGuard.checkpointLeaf(pairs0.select($"a", $"b"))
    val comps = Components.connectedComponents(pairs)
    // the eager leaf cut ran the pair pipeline, so the signature relation
    // behind it has no remaining consumer — free it early (barrier and
    // checkpoint calls each no-op for the other regime)
    graft.CacheGuard.drop(sigCached)
    graft.CacheGuard.dropCheckpoint(sigCached)
    val ids = dupCorpus(spark, dir).select($"doc_id")
    val labeled = ids.join(comps, ids("doc_id") === comps("node"), "left")
      .select($"doc_id", coalesce($"component", $"doc_id").as("keeper"))
    val sizes = labeled.groupBy($"keeper")
      .agg(count(lit(1)).as("cluster_size"))
      .filter($"cluster_size" >= 2)
    val edges = pairs
      .join(labeled.select($"doc_id".as("a"), $"keeper"), "a")
      .groupBy($"keeper").agg(count(lit(1)).as("n_edges"))
    val out = sizes.join(edges, "keeper")
      .select($"keeper", $"cluster_size", $"n_edges",
        expr("cluster_size * (cluster_size - 1) div 2").as("clique_edges"),
        expr("n_edges * 10000 div (cluster_size * (cluster_size - 1) div 2)")
          .as("cohesion_u4"))
      .orderBy($"keeper")
    // the pairs leaf stays registered — the edge-count join is lazy; the
    // consumer's release() frees the blocks via the checkpointLeaf hook
    out
  }

  /** Winnowing parameters (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    * fingerprinter): token k-gram size and window width. The winnowing
    * guarantee: any shared token run of length ≥ winnowK + winnowW − 1
    * surfaces at least one SHARED selected fingerprint, while expected
    * fingerprint density is only 2/(winnowW+1) of the k-gram stream —
    * the position-robust sampling that a fixed-stride grid (q72's spans)
    * loses under insertions. */
  val winnowK = 3
  val winnowW = 4

  /** Fingerprint hashes selected in more than this many documents are
    * boilerplate keys and are dropped WHOLE before pairing — the q159
    * `simBlockCap` discipline: a deterministic HAVING cut both engines
    * replay identically, bounding pair fan-out per key at C(cap, 2). */
  val winnowBlockCap = 64

  /** Minimum shared selected fingerprints for a reported match pair. */
  val winnowMinShared = 2

  /** WINNOWED FINGERPRINT MATCHING (q275) — the MOSS document-overlap
    * detector as a corpus operator: per document, hash every token
    * k-gram (md5-32, the oracle-shared family), slide a window of
    * winnowW consecutive k-gram hashes, and select each window's MINIMUM
    * hash (the paper's rightmost tie-break chooses which POSITION is
    * recorded; the sketch here keeps distinct hashes, so window-min is
    * the whole selection rule); the distinct selected hashes are the
    * document's fingerprint sketch.
    * Documents sharing ≥ winnowMinShared surviving fingerprints become
    * match pairs with a containment score against the smaller sketch.
    * Differs in kind from the MinHash chain (q55: probabilistic whole-doc
    * similarity) and the span grid (q72: fixed stride, shift-fragile):
    * winnowing guarantees detection of any ≥ k+w−1-token shared run at
    * ~2/(w+1) index density — the plagiarism/attribution shape.
    *
    * Scale shape: fingerprint selection is pure per-row expression work
    * (one tokenize + one windowed argmin over an array — no shuffle, and
    * the dup copies are projected over the cached base sketch, one hash
    * pass per unique text); the index is O(docs × density·grams) narrow
    * rows; boilerplate keys are HAVING-dropped so the self-join fans out
    * at most C(winnowBlockCap, 2) per key; the rollup is one (a, b)
    * keyed count. At 100 TB the fingerprint index is the only shuffled
    * relation — hashes, never text. */
  def winnowedMatches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = winnowK
    val w = winnowW
    // per-doc selected-fingerprint sketch over the BASE corpus, copies
    // projected over the cache (the withDupCopies discipline).
    // Leaf, not lazy barrier (round 18): the sketch feeds the index's
    // probe leg, its HAVING leg, and the size rollup — concurrent AQE
    // leaf stages raced the cold cache 13 ways (job probe: 13 × 2.9
    // task-s of identical tokenize+winnow work). Built once, over
    // Tables.fannedDocuments.
    val base = graft.CacheGuard.checkpointLeaf(
      Tables.fannedDocuments(spark, dir)
        .select($"doc_id", tokens($"text").as("tk"))
        .filter(size($"tk") >= k + w - 1)
        .select($"doc_id",
          transform(wordShingles($"tk", k), g => md5Hash32(g)).as("hs"))
        // per-window min hash; the canonical rightmost-position
        // tie-break only disambiguates which POSITION is recorded, and
        // the sketch here is the distinct hash set, so min alone is the
        // full selection rule
        .select($"doc_id", array_distinct(
          transform(sequence(lit(1), size($"hs") - (w - 1)), j =>
            array_min(slice($"hs", j, lit(w))))).as("fph")))
    val fps = withDupCopies(base)
      .select($"doc_id", explode($"fph").as("h"))
    // the boilerplate-cut index is scanned three times (both self-join
    // legs + the per-doc size rollup) — one narrow (doc_id, h) leaf
    val kept = graft.CacheGuard.checkpointLeaf(fps.join(
      fps.groupBy($"h").agg(count(lit(1)).as("nd"))
        .filter($"nd" <= winnowBlockCap).select($"h"),
      "h"))
    val sizes = kept.groupBy($"doc_id").agg(count(lit(1)).as("nfp"))
    val shared = kept.select($"doc_id".as("a"), $"h")
      .join(kept.select($"doc_id".as("b"), $"h"), "h")
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= winnowMinShared)
    shared
      .join(sizes.select($"doc_id".as("a"), $"nfp".as("a_fp")), "a")
      .join(sizes.select($"doc_id".as("b"), $"nfp".as("b_fp")), "b")
      .select($"a", $"b", $"n_shared", $"a_fp", $"b_fp",
        expr("n_shared * 10000 div least(a_fp, b_fp)").as("containment_u4"))
      .orderBy($"a", $"b")
  }

  /** Content-defined chunking parameters: a token ends a chunk iff its
    * md5-32 (domain-separated "cdc:" prefix) mod [[cdcModulus]] falls
    * below [[cdcThreshold]] — expected chunk length modulus/threshold =
    * 8 tokens, with the final chunk taking the remainder. Every
    * [[cdcStride]]-th document with ≥ 20 tokens ships an edited copy
    * (id + [[cdcEditOffset]]) whose middle token is replaced by a
    * per-doc-id token (the FIXTURES.md §C rule — replicas stay distinct),
    * the single-edit re-crawl whose chunks everywhere except around the
    * edit must still dedup. */
  val cdcModulus = 64
  val cdcThreshold = 8
  val cdcStride = 13L
  val cdcEditOffset = 900000L

  /** CONTENT-DEFINED CHUNK DEDUP (q276) — the LBFS/FastCDC boundary rule
    * as a corpus operator: chunk boundaries are chosen where the TOKEN
    * HASH satisfies a modular predicate, so boundaries are a function of
    * content alone and re-synchronize immediately after an edit — unlike
    * q72's fixed 5-token grid, where one inserted token shifts every
    * downstream span and kills all dedup behind it. Per document over
    * base ∪ edited copies: chunk count, token count, how many of its
    * chunks also occur in ANOTHER document, the token mass those shared
    * chunks cover, and the shareable fraction — the storage/dedup payoff
    * table of a CDC pass. The edited fixture is the operator's point:
    * one mid-document token swap must leave every chunk except the
    * edited one shared with the original.
    *
    * Scale shape: boundary selection and chunk hashing are per-row array
    * expressions (zero shuffle); then ONE groupBy over chunk hashes
    * (partial-aggregated counts) joined back and ONE per-doc rollup —
    * two keyed shuffles of narrow hash rows, the q72 span-grid profile
    * with shift-robust keys. */
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", tokens($"text").as("tk"))
      .filter(size($"tk") >= 1)
    // two-step id shift (the lateral-alias discipline): the replacement
    // token derives from the ORIGINAL id, unambiguous in both engines
    val corpus = docs.unionByName(
      docs.filter($"doc_id" % cdcStride === 0 && size($"tk") >= 20)
        .select($"doc_id".as("orig_id"),
          concat(
            slice($"tk", lit(1), (size($"tk") / 3).cast("int")),
            array(concat(lit("zed"), $"doc_id".cast("string"))),
            slice($"tk", (size($"tk") / 3 + 2).cast("int"),
              size($"tk") - (size($"tk") / 3 + 1).cast("int")))
            .as("tk"))
        .select(($"orig_id" + cdcEditOffset).as("doc_id"), $"tk"))
    // boundary positions: token i ends a chunk iff h32("cdc:"||tok_i)
    // mod cdcModulus < cdcThreshold; chunk spans derive per-row (the
    // final chunk takes the remainder to len(tk))
    val chunks = corpus
      .withColumn("bpos",
        filter(sequence(lit(1L), size($"tk").cast("long")), i =>
          conv(substring(md5(concat(lit("cdc:"), element_at($"tk", i.cast("int")))),
            1, 8), 16, 10).cast("long") % cdcModulus < cdcThreshold))
      .withColumn("ends",
        when(array_position($"bpos", size($"tk").cast("long")) > 0, $"bpos")
          .otherwise(concat($"bpos", array(size($"tk").cast("long")))))
      .withColumn("starts",
        concat(array(lit(1L)),
          transform(slice($"ends", lit(1), size($"ends") - 1), e => e + 1L)))
      .select($"doc_id", $"tk", size($"tk").cast("long").as("n_tokens"),
        explode(zip_with($"starts", $"ends", (s, e) =>
          struct(s.as("s"), e.as("e")))).as("sp"))
      .select($"doc_id", $"n_tokens",
        ($"sp.e" - $"sp.s" + 1L).as("chunk_len"),
        md5(array_join(
          slice($"tk", $"sp.s".cast("int"), ($"sp.e" - $"sp.s" + 1L).cast("int")),
          " ")).as("ch"))
    val hashDocs = chunks.groupBy($"ch")
      .agg(countDistinct($"doc_id").as("nd"))
    chunks.join(hashDocs, "ch")
      .groupBy($"doc_id")
      .agg(first($"n_tokens").as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(when($"nd" >= 2, 1L).otherwise(0L)).as("shared_chunks"),
        sum(when($"nd" >= 2, $"chunk_len").otherwise(0L)).as("shared_tokens"))
      .select($"doc_id", $"n_tokens", $"n_chunks", $"shared_chunks",
        $"shared_tokens",
        expr("shared_tokens * 10000 div n_tokens").as("shared_bp"),
        ($"doc_id" >= cdcEditOffset).as("edited"))
      .orderBy($"doc_id")
  }

  /** BLOCKING-QUALITY AUDIT (q277) — the record-linkage evaluation of
    * the LSH blocking scheme itself (Christen 2012's two dials): for
    * each prefix of b ∈ {1..bands} bands, REDUCTION RATIO (candidate
    * pairs avoided vs the all-pairs cross product) and PAIRS
    * COMPLETENESS (designed ground-truth duplicate pairs — the mirror
    * copies — actually surfaced). The two dials move against each
    * other: more bands → more candidates (lower RR) but fewer missed
    * true pairs (higher PC). q266 audits the ESTIMATOR on surfaced
    * pairs; this audits the SURFACING — what the banding chose never to
    * score, which no per-pair metric can see.
    *
    * Scale shape: the q55 capped-band chain run ONCE keeping each
    * pair's MINIMUM colliding band; the per-prefix rollup groups pairs
    * by that minimum (O(bands) rows) and cumulates over the tiny band
    * axis — the corpus never re-scans per prefix. All-pairs and
    * ground-truth totals are two O(1)-row aggregates broadcast in. */
  def blockingAudit(spark: SparkSession, dir: String,
                    shingleN: Int = 3, perms: Int = 16,
                    bands: Int = 4): DataFrame = {
    import spark.implicits._
    val rows = perms / bands
    val sig = withDupCopies(graft.CacheGuard.barrier(
      shingleArrays(spark, dir, shingleN)
        .select($"doc_id",
          graft.functions.native.md5MinHashSig($"arr", perms).as("sig"))))
    val banded = sig.select($"doc_id",
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice($"sig", b * lit(rows) + 1, lit(rows)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val pairMin = registeredBand(banded, "band_key").as("x")
      .join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.band_key" === $"y.band_key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a"), $"y.doc_id".as("b"), $"x.band".as("band"))
      .groupBy($"a", $"b").agg(min($"band").as("min_band"))
    val perBand = pairMin.groupBy($"min_band")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"b" === $"a" + dupOffset, 1L).otherwise(0L))
          .as("n_true"))
    val totals = sig.agg(count(lit(1)).as("n_docs")).select($"n_docs",
      expr("n_docs * (n_docs - 1) div 2").as("all_pairs"),
      ($"n_docs" / 2).cast("long").as("n_designed"))
    // cumulate over the O(bands) axis via a tiny self-join (never a
    // corpus-side window): prefix b counts pairs with min_band < b
    val axis = spark.range(1, bands + 1).select($"id".cast("int").as("b"))
    axis.join(perBand, $"min_band" < $"b", "left")
      .groupBy($"b")
      .agg(coalesce(sum($"n_pairs"), lit(0L)).as("candidates"),
        coalesce(sum($"n_true"), lit(0L)).as("true_caught"))
      .crossJoin(broadcast(totals))
      .select($"b".as("bands_used"), lit(rows).as("rows_per_band"),
        $"candidates", $"true_caught", $"n_designed", $"all_pairs",
        expr("(all_pairs - candidates) * 10000 div all_pairs")
          .as("reduction_ratio_u4"),
        expr("true_caught * 10000 div n_designed")
          .as("pairs_completeness_u4"))
      .orderBy($"bands_used")
  }

  /** LSH S-CURVE AUDIT (q278) — the banding-design table (Leskovec,
    * Rajaraman & Ullman ch. 3): for every (b, r) factorization of the
    * 16-permutation signature, the ANALYTIC collision probability
    * 1 − (1 − J^r)^b at each observed match-count level J = m/16, next
    * to the MEASURED would-collide fraction of the audited candidate
    * pairs at that level (a pair "would collide" under (b, r) iff some
    * r-row band of the two signatures agrees exactly — in-row
    * slice-equality over the signatures already on the pair). The table
    * answers "what does retuning banding cost/buy at each similarity
    * level" from data already flowing — no re-banding run. Measured
    * rows are conditioned on the shipped (4, 4) surfacing (stated:
    * pairs it never surfaced cannot be measured); the analytic column
    * is exact for all (b, r). Powers are REPEATED IEEE MULTIPLICATION
    * (correctly-rounded primitives, same association order in both
    * engines) — never pow().
    *
    * Scale shape: one pass over the cached audited-pair relation per
    * (b, r) config (5 configs, in-row arithmetic only), each collapsing
    * to O(17) match-count rows before the union — the corpus-side work
    * is the q55 chain, run once. */
  def lshScurveAudit(spark: SparkSession, dir: String,
                     threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val perms = 16
    val (pairs0, sigCached) =
      md5MinHashPairsWithSigs(spark, dir, 3, perms, 4, threshold)
    val pairs = graft.CacheGuard.barrier(
      pairs0.select($"a", $"b", $"sa", $"sb",
        sigMatches($"sa", $"sb", perms).cast("long").as("m")))
    // small-corpus (barrier) regime: release the lazy signature cache
    // now, exactly as r17 shipped — the S-curve fill re-derives sigs
    // inline, measured cheaper at sf0.1 than holding the cache. In the
    // checkpoint regime this drop() is a NO-OP, which is required for
    // correctness: checkpoint blocks are unrecomputable and the lazy
    // pairs fill scans them, so only the consumer's release hook may
    // free them.
    graft.CacheGuard.drop(sigCached)
    val configs = Seq(1 -> 16, 2 -> 8, 4 -> 4, 8 -> 2, 16 -> 1)
    val perConfig = configs.map { case (b, r) =>
      val collide = (0 until b).map { i =>
        (1 to r).map(j => element_at($"sa", i * r + j) ===
          element_at($"sb", i * r + j)).reduce(_ && _)
      }.reduce(_ || _)
      val j = $"m".cast("double") / lit(perms.toDouble)
      val jr = (1 to r).map(_ => j).reduce(_ * _)
      val oneMinusJr = lit(1.0) - jr
      val p = lit(1.0) - (1 to b).map(_ => oneMinusJr).reduce(_ * _)
      pairs.groupBy($"m")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(collide, 1L).otherwise(0L)).as("collide_n"))
        .select(lit(b).as("b"), lit(r).as("r"), $"m".as("matches"),
          $"n_pairs", $"collide_n",
          expr("collide_n * 10000 div n_pairs").as("collide_frac_u4"),
          floor(p * lit(1e4) + lit(0.5)).cast("long").as("analytic_p_u4"))
    }
    perConfig.reduce(_ unionByName _).orderBy($"b", $"matches")
  }

  /** B-CUBED CLUSTER EVALUATION (q290) — the standard entity-resolution
    * / dedup-clustering metric (Bagga & Baldwin 1998; the coreference
    * community's choice precisely because, unlike pair-F1 (q150's
    * grain), it penalizes both over-merge and over-split PER ELEMENT):
    * for each document, precision = |pred ∩ truth|/|pred|, recall =
    * |pred ∩ truth|/|truth| where pred is the q67 keeper cluster and
    * truth is the designed mirror pair {d, d+dupOffset} (truth clusters
    * have exactly two members by construction). With |truth| = 2 the
    * per-element intersection is 1 + [partner shares the pred cluster],
    * so every per-element score is a small exact rational, floored to
    * u6, and per-element F1 collapses to 2·i/(|pred|+2) exactly.
    * Reported per predicted-cluster-size (the diagnostic axis: size-1
    * rows are pure over-split, large sizes expose over-merge dilution)
    * plus a `cluster_size = 0` TOTAL row.
    *
    * Scale shape: the audited q67 chain runs once; the partner lookup
    * is ONE self-join on the derived partner id (never a pair
    * enumeration); the rollup is one keyed aggregation over
    * O(distinct sizes) groups. */
  def bcubedEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // leaf, not barrier: referenced by both the element and the partner
    // side of the self-join — a lazy cache is raced cold (round 18)
    val labeled = graft.CacheGuard.checkpointLeaf(
      nearDupKeepers(spark, dir)
        .select($"doc_id", $"keeper", $"cluster_size"))
    val partner = labeled.select(
      (when($"doc_id" < dupOffset, $"doc_id" + dupOffset)
        .otherwise($"doc_id" - dupOffset)).as("doc_id"),
      $"keeper".as("partner_keeper"))
    val scored = labeled.join(partner, "doc_id")
      .select($"doc_id", $"cluster_size",
        (lit(1L) + when($"keeper" === $"partner_keeper", 1L)
          .otherwise(0L)).as("inter"))
      .select($"cluster_size",
        expr("inter * 1000000 div cluster_size").as("p_u6"),
        expr("inter * 1000000 div 2").as("r_u6"),
        expr("2 * inter * 1000000 div (cluster_size + 2)").as("f_u6"))
    val bySize = scored.groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_elements"),
        expr("sum(p_u6) div count(1)").as("precision_u6"),
        expr("sum(r_u6) div count(1)").as("recall_u6"),
        expr("sum(f_u6) div count(1)").as("f1_u6"))
    val total = scored.agg(count(lit(1)).as("n_elements"),
        expr("sum(p_u6) div count(1)").as("precision_u6"),
        expr("sum(r_u6) div count(1)").as("recall_u6"),
        expr("sum(f_u6) div count(1)").as("f1_u6"))
      .select(lit(0L).as("cluster_size"), $"n_elements",
        $"precision_u6", $"recall_u6", $"f1_u6")
    bySize.unionByName(total).orderBy($"cluster_size")
  }

  /** SOFT-DEDUP LOSS WEIGHTING (q293) — the alternative to hard
    * removal several production pipelines prefer (keep every duplicate
    * but DOWNWEIGHT its training loss by its multiplicity): per
    * document, weight = 1/cluster_size over the q67 keeper clusters in
    * exact micro-units, rolled up per source as effective (weighted)
    * document and token mass next to the raw mass — the table that
    * answers "what does each source really contribute after
    * multiplicity correction" and prices hard dedup (q229's savings)
    * against soft (zero discarded bytes, same effective epochs).
    * Σ effective_docs_u6 equals the cluster count × 1e6 up to one
    * floor unit per member (each member contributes ⌊1e6/s⌋) — the
    * bracketed invariant the spec pins.
    *
    * Scale shape: the audited q67 chain once; one join back to the
    * corpus for (source, token) attributes; one source-keyed rollup
    * with map-side partials. The weight is per-row arithmetic. */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val labeled = nearDupKeepers(spark, dir)
      .select($"doc_id", $"cluster_size")
    val docs = withDupCopies(
      Tables.documents(spark, dir)
        .select($"doc_id", $"source", size(tokens($"text")).cast("long")
          .as("n_tokens")))
    docs.join(labeled, "doc_id")
      .select($"source", $"n_tokens", $"cluster_size",
        expr("1000000 div cluster_size").as("w_u6"),
        expr("n_tokens * 1000000 div cluster_size").as("eff_tok_u6"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("raw_tokens"),
        sum($"w_u6").as("effective_docs_u6"),
        sum($"eff_tok_u6").as("effective_tokens_u6"))
      .withColumn("keep_ratio_u4",
        expr("effective_tokens_u6 div greatest(raw_tokens, 1) div 100"))
      .orderBy($"source")
  }

  /** Clusters larger than this keep the cheap min-id keeper — the
    * medoid of a mega-cluster is statistically meaningless and the
    * exact pairwise pass would be Ω(s²) (the q175 keeper-first lesson).
    * Shared with the q294 oracle. */
  val medoidMaxSize = 64L

  /** MEDOID KEEPER ELECTION (q294) — keeper QUALITY, not just keeper
    * identity: the min-id rule (q67) keeps an arbitrary member; the
    * medoid keeps the most REPRESENTATIVE one — the member maximizing
    * total exact Jaccard to its cluster-mates, the document whose text
    * best summarizes the family (what you actually want surviving
    * dedup). Computed for clusters of size 2..[[medoidMaxSize]] (the
    * bound makes the within-cluster exact pass Ω(Σ min(s,64)²) — the
    * keeper-first discipline; mega-clusters keep min-id, reported with
    * `elected = false` in spirit via absence). Ties: highest summed
    * u6-Jaccard, then smallest doc_id — the struct-ordered argmax.
    * Output per eligible cluster: the min-id keeper, the medoid, its
    * summed score, and whether the election CHANGED the keeper — the
    * table that prices upgrading q67's rule.
    *
    * Scale shape: the audited q67 chain once; members' distinct-shingle
    * sets are per-row work; within-cluster pairs come from ONE
    * (keeper, shingle)-keyed self-join (never cross-cluster), inter/
    * union arithmetic exact, per-member sums keyed, argmax partial-
    * aggregable. */
  def medoidKeepers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.{tokens, wordShingles}
    // leaves, not barriers (round 18): `labeled` feeds the member build
    // AND the final per-cluster rollup, `mem` both self-join sides and
    // the medoid base — lazy caches are raced cold by those stages
    val labeled = graft.CacheGuard.checkpointLeaf(
      nearDupKeepers(spark, dir)
        .filter($"cluster_size" >= 2L && $"cluster_size" <= medoidMaxSize)
        .select($"doc_id", $"keeper", $"cluster_size"))
    val sets = withDupCopies(
      Tables.documents(spark, dir)
        .select($"doc_id",
          array_distinct(wordShingles(tokens($"text"), 3)).as("shs")))
    val mem = graft.CacheGuard.checkpointLeaf(
      labeled.join(sets, "doc_id")
        .select($"keeper", $"doc_id", $"shs",
          size($"shs").cast("long").as("n_sh")))
    val tok = mem.select($"keeper", $"doc_id", $"n_sh",
      explode($"shs").as("sh"))
    val pairs = tok.as("x").join(tok.as("y"),
        $"x.keeper" === $"y.keeper" && $"x.sh" === $"y.sh" &&
          $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.keeper".as("keeper"), $"x.doc_id".as("a"),
        $"y.doc_id".as("b"), $"x.n_sh".as("na"), $"y.n_sh".as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select($"keeper", $"a", $"b",
        expr("inter * 1000000 div (na + nb - inter)").as("j_u6"))
    val scores = pairs.select($"keeper", $"a".as("doc_id"), $"j_u6")
      .unionByName(pairs.select($"keeper", $"b".as("doc_id"), $"j_u6"))
      .groupBy($"keeper", $"doc_id").agg(sum($"j_u6").as("score"))
    val medoid = mem.select($"keeper", $"doc_id")
      .join(scores, Seq("keeper", "doc_id"), "left")
      .withColumn("score", coalesce($"score", lit(0L)))
      .groupBy($"keeper")
      .agg(max(struct($"score", (-$"doc_id").as("nd"))).as("m"))
      .select($"keeper", (-$"m.nd").as("medoid"),
        $"m.score".as("medoid_score_u6"))
    labeled.groupBy($"keeper").agg(first($"cluster_size").as("cluster_size"))
      .join(medoid, "keeper")
      .withColumn("changed", $"medoid" =!= $"keeper")
      .orderBy($"keeper")
  }

  /** WEIGHTED-JACCARD RESCORING (q300) — the MULTISET similarity the
    * whole MinHash family ignores: q55/q114/q175 treat documents as
    * token/shingle SETS, so a boilerplate token repeated 40 times and a
    * rare term occurring once weigh the same. Weighted (multiset)
    * Jaccard — Σ min(tf_a, tf_b) / Σ max(tf_a, tf_b) — is what
    * tf-aware dedup policies actually rank by (Ioffe 2010 samples it;
    * here the LSH candidate set is already bounded, so the EXACT value
    * is affordable and sampling error never enters the hash). Using
    * Σ max = tot_a + tot_b − Σ min, only the token INTERSECTION is ever
    * joined — no per-pair union materializes. Output per τ≥0.5
    * candidate pair: shared token types, Σ min mass, doc masses, the
    * exact weighted Jaccard in millionths, and its gap from the
    * signature estimate (positive gap = repetition made the pair look
    * MORE similar than its multiset truly is).
    *
    * Scale shape: one (doc, token)-keyed tf aggregation; the candidate
    * pairs join tf on each side token-aligned — O(candidate pairs ×
    * shared tokens), the same bounded shape as q294's within-cluster
    * election; one pair-keyed rollup. Never Ω(all pairs): candidates
    * come banded and capped from the q55 chain. */
  def weightedJaccardRescore(spark: SparkSession, dir: String,
                             threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    // leaves, not barriers (round 18): `pairs` feeds the intersection
    // and the final attach, `tf` both token sides and the mass rollup —
    // as lazy caches those concurrent leaf stages race the cold fills
    val pairs = graft.CacheGuard.checkpointLeaf(
      minHashLshPairsOracled(spark, dir, threshold = threshold)
        .select($"a", $"b", $"est_jaccard"))
    val tf = graft.CacheGuard.checkpointLeaf(
      dupCorpus(spark, dir)
        .select($"doc_id", explode(tokens($"text")).as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf")))
    val tot = tf.groupBy($"doc_id").agg(sum($"tf").as("tot"))
    val inter = pairs
      .join(tf.select($"doc_id".as("a"), $"w", $"tf".as("tf_a")), "a")
      .join(tf.select($"doc_id".as("b"), $"w", $"tf".as("tf_b")),
        Seq("b", "w"))
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n_shared_types"),
        sum(least($"tf_a", $"tf_b")).as("s_min"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      .join(tot.select($"doc_id".as("a"), $"tot".as("tot_a")), "a")
      .join(tot.select($"doc_id".as("b"), $"tot".as("tot_b")), "b")
      .select($"a", $"b",
        coalesce($"n_shared_types", lit(0L)).as("n_shared_types"),
        coalesce($"s_min", lit(0L)).as("s_min"),
        $"tot_a", $"tot_b", $"est_jaccard")
      .withColumn("w_jaccard_u6",
        expr("s_min * 1000000 div greatest(tot_a + tot_b - s_min, 1)"))
      // estimate in the same millionth units: est_jaccard is r4-snapped
      // (k/10⁴), but k/10⁴·10⁶ is not exactly representable — half-up
      // floor recovers the integer exactly in both engines;
      // gap > 0 ⇔ the set view overstates similarity
      .withColumn("gap_u6",
        floor($"est_jaccard" * 1e6 + lit(0.5)).cast("long")
          - $"w_jaccard_u6")
      .orderBy($"a", $"b")
  }

}
