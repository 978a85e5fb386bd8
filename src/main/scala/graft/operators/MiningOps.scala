package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Corpus-mining operators a training-data pipeline runs to CREATE
  * data rather than filter it: margin-based parallel-pair mining over
  * the embedding space (the bitext-mining shape behind machine-translation
  * corpora — Artetxe & Schwenk, "Margin-based Parallel Corpus Mining with
  * Multilingual Sentence Embeddings", ACL 2019), and inverted-index
  * materialization (the layout artifact behind q167's BM25 serving).
  *
  * Reference anchor: the reference pipeline harvests raw feeds
  * (tweet_download.py, data_ingestion.py) — these operators are the
  * corpus-construction stages a 100 TB successor runs AFTER that ingest,
  * over the same document/embedding tables the rest of the library uses.
  */
object MiningOps {

  /** Candidate fan-out per anchor (top-k neighbours per side). k = 4 is
    * deliberate: the per-side mean of ≤4 grid-quantized sims divides
    * exactly by a power of two, so every margin input is an exact double. */
  val bitextK = 4

  /** Margin acceptance threshold in 1e-4 units: accept a pair iff its
    * best-candidate margin ≥ 1.02 — the neighbour must beat the average
    * of its competitors by 2%. */
  val bitextTauU4 = 10200L

  /** Margin-based bitext mining (q176): elect at most one partner on the
    * opposite SIDE for every anchor vector, scored by the ratio margin
    *   margin(x,y) = cos(x,y) / ((avgk(x) + avgk(y)) / 2)
    * where avgk(v) is the mean cosine of v's top-k cross-side candidates
    * — the CCMatrix/LASER mining rule that suppresses "hub" vectors which
    * are near everything (their high avgk deflates every margin they
    * touch). Sides here are the even/odd `label` halves of the embedding
    * table (the deterministic stand-in for a language split).
    *
    * Exact arithmetic: cosines quantize to integer 1e-4 units at the
    * candidate edge (the q53 grid), per-side stats are exact integer sums
    * and counts, and the margin is evaluated as ONE double expression
    * over those exact integers — `cos·2·nA·nB·1e4 / (ΣA·nB + ΣB·nA)` —
    * with every product below 2^53, so both engines compute the identical
    * IEEE value and the 1e-4 floor can never straddle an engine boundary.
    * Anchors whose candidate sums are non-positive (net-negative
    * neighbourhoods) have no meaningful margin and are excluded before
    * the division.
    *
    * Scale shape (100 TB corpus): the all-pairs A×B cosine matrix never
    * exists — candidates come from the q53 sign-LSH bucket join (hot
    * buckets capped by `maxBlock`, the documented recall trade), so the
    * join output is O(Σ bucket²_capped), linear in corpus for the
    * designed bucket occupancy. Both top-k reductions pre-reduce through
    * the bounded [[graft.functions.TopK]] aggregate (partial top-k per
    * map partition — no corpus-sized `row_number` window). The per-side
    * stat relations are O(anchors) and join back co-keyed on their own
    * ids; the final election window partitions by anchor over ≤k rows.
    * The candidate relation is barriered: it feeds the A-side top-k, the
    * B-side top-k, and nothing else re-derives it. */
  def bitextMine(spark: SparkSession, dir: String,
                 k: Int = bitextK, bits: Int = 4, maxBlock: Int = 500,
                 tauU4: Long = bitextTauU4): DataFrame = {
    import spark.implicits._
    // barrier before the cap: capHotKeys consumes the bucketed scan twice
    // (block-size counts + the data itself) — q53's discipline
    val emb = graft.CacheGuard.barrier(
      Tables.embeddings(spark, dir)
        .select($"vec_id", $"label", $"embedding",
          signLshBucket($"embedding", bits).as("bucket")))
    val capped = Guards.capHotKeys(emb, "bucket", maxBlock)
    val a = capped.filter($"label" % 2 === 0)
      .select($"vec_id".as("a_id"), $"embedding".as("ea"), $"bucket")
    val b = capped.filter($"label" % 2 === 1)
      .select($"vec_id".as("b_id"), $"embedding".as("eb"), $"bucket")
    val rawCos = cosine($"ea", $"eb")
    // barrier: cand feeds both directions' top-k reductions — without it
    // the bucket join (and the corpus scan under it) executes twice
    val cand = graft.CacheGuard.barrier(
      a.join(b, "bucket")
        .filter(!isnan(rawCos))
        .select($"a_id", $"b_id",
          floor(rawCos * 1e4 + lit(0.5)).cast("long").as("cos_u4")))
    def topSide(keyCol: String, idCol: String): DataFrame =
      cand.groupBy(col(keyCol))
        .agg(graft.functions.TopK.topK(k)(
          $"cos_u4".cast("double"), col(idCol)).as("top"))
        .select(col(keyCol), posexplode($"top"))
        .select(col(keyCol), $"col.vec_id".as(idCol),
          $"col.cos_sim".cast("long").as("cos_u4"))
    val pairsA = topSide("a_id", "b_id")
    val statsA = pairsA.groupBy($"a_id")
      .agg(sum($"cos_u4").as("sum_a"), count(lit(1)).as("n_a"))
    val statsB = topSide("b_id", "a_id").groupBy($"b_id")
      .agg(sum($"cos_u4").as("sum_b"), count(lit(1)).as("n_b"))
    val w = Window.partitionBy($"a_id")
      .orderBy($"margin_u4".desc, $"cos_u4".desc, $"b_id")
    pairsA
      .join(statsA, "a_id")
      .join(statsB, "b_id")
      .filter($"sum_a".cast("double") * $"n_b"
        + $"sum_b".cast("double") * $"n_a" > 0.0)
      .select($"a_id", $"b_id", $"cos_u4", $"n_a", $"n_b",
        floor($"cos_u4".cast("double") * 2 * $"n_a" * $"n_b" * 1e4
            / ($"sum_a".cast("double") * $"n_b"
              + $"sum_b".cast("double") * $"n_a")
          + lit(0.5)).cast("long").as("margin_u4"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"margin_u4" >= tauU4)
      .select($"a_id", $"b_id", $"cos_u4", $"margin_u4")
      .orderBy($"a_id")
  }

  /** Posting-list block size: doc-id range per (term, block) row. Bounds
    * every collected list — a term's postings can be corpus-sized, a
    * (term, block)'s cannot exceed this. */
  val postingBlock = 64L

  /** Inverted-index materialization (q177): the persistent lexical-index
    * artifact behind q167's query-time BM25 — per (term, doc-id block):
    * the block's postings as a delta-encoded `gap:tf` string (gaps within
    * the block, first gap from the block base), plus block and global
    * document frequencies. Delta-encoded blocks are the storage layout
    * every production index uses (bounded decode state, block-skippable
    * scans); blocking by doc-id range is what makes the layout 100 TB
    * safe — aggregation state per grouping key is ≤ [[postingBlock]]
    * postings no matter how common the term, where an unblocked
    * per-term `collect_list` would hold the term's entire posting list
    * (GBs for stopwords) in one aggregation buffer.
    *
    * Scale shape: one tokenize+explode pass into a (term, doc) count
    * with map-side partials; one (term, block) aggregation whose sorted
    * collect is bounded by the block size; the global df rolls up from
    * the block relation itself (O(term-blocks), never a corpus re-scan)
    * and joins back co-keyed on term. All-integer output — counts, gaps,
    * tfs — so the hash compare has no float surface at all. The
    * per-row delta encoding walks ≤ blockSize elements of an
    * already-aggregated array (interpreted lambda, bounded work — the
    * sf10 codegen lesson applies to per-CANDIDATE lambdas on join
    * outputs, not to bounded per-group post-processing). */
  def postingLists(spark: SparkSession, dir: String,
                   blockSize: Long = postingBlock): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
    val blocks = tf
      .withColumn("blk", floor($"doc_id" / lit(blockSize.toDouble))
        .cast("long"))
      .groupBy($"term", $"blk")
      .agg(sort_array(collect_list(struct($"doc_id", $"tf"))).as("ps"),
        count(lit(1)).as("n_docs"), sum($"tf").as("sum_tf"))
    val dfTot = blocks.groupBy($"term").agg(sum($"n_docs").as("df"))
    blocks.join(dfTot, "term")
      .select($"term", $"blk", $"df", $"n_docs", $"sum_tf",
        concat_ws(" ", transform(sequence(lit(1), size($"ps")), i =>
          concat(
            (element_at($"ps", i)("doc_id")
              - when(i === 1, $"blk" * blockSize)
                .otherwise(element_at($"ps", i - 1)("doc_id"))).cast("string"),
            lit(":"),
            element_at($"ps", i)("tf").cast("string"))))
          .as("postings"))
      .orderBy($"term", $"blk")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — unsupervised
    * corpus keywords as the PageRank of the word-adjacency graph: nodes
    * are word types, an edge links two words that appear ADJACENT in some
    * document (the paper's co-occurrence window, w=2), and a word's score
    * is the stationary importance of its neighborhood — frequent words
    * that only neighbor other frequent words (stop-ish glue) rank below
    * words that bridge many distinct contexts. The corpus-level keyword
    * list TF-IDF (q50) cannot give: TF-IDF scores a word per document
    * against the corpus; TextRank scores it globally from graph
    * structure alone.
    *
    * Re-uses [[Components.pageRank]]'s integer-exact power iteration
    * verbatim — node keys here are the word STRINGS (its round engine
    * keys its RDDs on the edge columns' own values and the output keeps
    * their type), so no word→id dictionary round-trip. Edges: adjacent token pairs from the
    * shared whitespace tokenizer, kept when both sides are ≥4-char purely
    * alphabetic types (the paper's syntactic filter, approximated without
    * a POS tagger), canonicalized a < b and DISTINCT — an unweighted
    * graph both engines replay.
    *
    * Scale shape: edge extraction is one pass over tokens (O(corpus
    * tokens) rows pre-distinct, O(word-type pairs) after — vocabulary
    * quadratic is never materialized, only OBSERVED adjacencies); the
    * rank loop is [[Components.pageRank]]'s RDD rounds, one shuffle each
    * over the O(vocab) node set, run in the caller's job. The top-k cut is a TakeOrdered, never a
    * global sort. */
  def textRankKeywords(spark: SparkSession, dir: String,
                       iters: Int = 5, topK: Int = 25): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", tokens($"text").as("tk"))
      .filter(size($"tk") >= 2) // sequence(1, 0) would DESCEND, not empty
    val pairs = toks.select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))"))
        .as("p"))
      .select($"p.w1", $"p.w2")
      .filter($"w1".rlike("^[a-z]{4,}$") && $"w2".rlike("^[a-z]{4,}$") &&
        $"w1" =!= $"w2")
      .select(least($"w1", $"w2").as("a"), greatest($"w1", $"w2").as("b"))
      .distinct()
    Components.pageRank(pairs, iters)
      .select($"node".as("word"), $"deg".as("degree"), $"r".as("rank_ppm"),
        Quant.r4($"r".cast("double") / 1000000.0).as("rank"))
      .orderBy($"rank_ppm".desc, $"word")
      .limit(topK)
  }

  /** Exact phrase search via POSITIONAL postings — the query-serving twin
    * of q177's posting-list artifact: "merge" AND "join" in a document is
    * not the phrase "merge join"; the phrase needs token POSITIONS, and
    * the inverted-index mechanism is a postings self-join on
    * (doc, pos+1). The engine builds positional postings for ONLY the
    * two probe terms (the term filter rides the tokenize scan — postings
    * for the full vocabulary are q177's job, not the query's), then one
    * equi-join `p2.pos = p1.pos + 1` lands the phrase occurrences; per
    * matching doc: occurrence count and first position (0-based).
    *
    * Scale shape: the tokenize+posexplode scan is one corpus pass whose
    * output is immediately cut to O(df(w1)+df(w2)) posting rows; the
    * phrase join shuffles only those postings keyed by doc, and the
    * rollup is per matching doc. An adjacent-token LIKE scan would also
    * work per-row but cannot serve from a prebuilt index; this shape
    * extends verbatim to k-term phrases (k−1 chained position joins). */
  def phraseSearch(spark: SparkSession, dir: String,
                   w1: String = "fast", w2: String = "merge"): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val posting = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos", "tok")))
      .filter($"tok".isin(w1, w2))
    val p1 = posting.filter($"tok" === w1).select($"doc_id", $"pos")
    val p2 = posting.filter($"tok" === w2)
      .select($"doc_id".as("doc2"), $"pos".as("pos2"))
    p1.join(p2, $"doc_id" === $"doc2" && $"pos2" === $"pos" + 1)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min($"pos").cast("long").as("first_pos"))
      .orderBy($"doc_id")
  }

  /** DOMAIN CENTROID DRIFT (q256) — the embedding-space domain-shift
    * monitor: per label group, how far its mean embedding points away
    * from the corpus mean. The alignment is reported as the
    * q238/q246-style exact rational — signed cos²·10⁶ ppm between the
    * group centroid and the global centroid — so no sqrt/acos ever
    * crosses an engine boundary. Centroids are e3-grid integer vectors
    * (per-dim `floor(sum/n + 1/2)`, ONE correctly-rounded double
    * division each — the q35 codebook discipline), making every dot and
    * norm an exact BIGINT. A group whose signed ppm sits far below its
    * peers is the drifted domain — the monitor a mixed-corpus embedding
    * refresh reads.
    *
    * Scale shape: one posexplode → (label, dim) integer-sum rollup —
    * O(labels × dims) rows out of the only corpus-sized shuffle; the
    * global centroid is a second rollup of THAT relation (O(dims));
    * centroid math is driver-free column work over O(labels) rows. */
  def domainCentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dimSums = graft.CacheGuard.barrier(
      Tables.embeddings(spark, dir)
        .select($"label",
          posexplode(transform($"embedding",
            x => floor(x.cast("double") * 1000 + lit(0.5)).cast("long")))
            .as(Seq("dim", "q")))
        .groupBy($"label", $"dim")
        .agg(sum($"q").as("s"), count(lit(1)).as("n")))
    def centroid(df: DataFrame, key: Seq[String]) = df
      .select((key.map(col) :+ $"dim" :+
        floor($"s".cast("double") / $"n".cast("double") + 0.5)
          .cast("long").as("c")): _*)
    val gc = centroid(
      dimSums.groupBy($"dim").agg(sum($"s").as("s"), sum($"n").as("n")),
      Nil).select($"dim", $"c".as("g"))
    val lc = centroid(dimSums, Seq("label"))
    val nVecs = Tables.embeddings(spark, dir)
      .groupBy($"label").agg(count(lit(1)).as("n_vecs"))
    lc.join(gc, "dim")
      .groupBy($"label")
      .agg(sum($"c" * $"g").as("dot"),
        sum($"c" * $"c").as("na"), sum($"g" * $"g").as("nb"))
      .join(nVecs, "label")
      .select($"label", $"n_vecs",
        // dot² · 10⁶ can reach ~10²³ — the product rides DECIMAL(38,0)
        // (DuckDB: HUGEINT) and only the final integral quotient is a
        // BIGINT
        (when($"dot" < 0, -1L).otherwise(1L) *
          expr("CAST(CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))" +
            " * 1000000 div greatest(na * nb, 1) AS BIGINT)"))
          .as("cos2_ppm_signed"))
      .orderBy($"label")
  }
}
