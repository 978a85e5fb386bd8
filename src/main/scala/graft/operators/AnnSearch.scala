package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (north-star extension):
  * brute-force cosine top-k as the exact baseline, and a sign-LSH bucketed
  * variant as the scale path.
  *
  * Scale design: the query vector set is always the SMALL side — it is
  * broadcast, so the 100 TB embedding corpus is scanned exactly once with
  * no shuffle; top-k is a partial `limit` pushed through the sort (Spark
  * plans TakeOrderedAndProject, which keeps only k rows per partition
  * before the single-reduce merge). The LSH variant prunes the scan to
  * matching buckets; with a bucketed/partitioned layout on `bucket` the
  * scan itself becomes partition-pruned.
  */
object AnnSearch {

  /** Exact brute-force cosine top-k against one stored query vector
    * (vec_id = queryId), broadcast to every partition. */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     queryId: Long = 0L, k: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val query = emb.filter($"vec_id" === queryId)
      .select($"embedding".as("q"))
    emb.filter($"vec_id" =!= queryId)
      .crossJoin(broadcast(query))
      .select(
        $"vec_id", $"label",
        Quant.r4(cosine($"embedding", $"q")).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(k)
  }

  /** Sign-LSH bucketed ANN: candidates restricted to the query's bucket
    * (deterministic hyperplanes — see VectorFunctions.signLshBucket), then
    * exact cosine within the bucket. Trades recall for a (2^bits)-fold scan
    * reduction once the table is clustered by bucket. */
  def lshTopK(spark: SparkSession, dir: String,
              queryId: Long = 0L, k: Int = 10, bits: Int = 4): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", signLshBucket($"embedding", bits))
    val query = emb.filter($"vec_id" === queryId)
      .select($"embedding".as("q"), $"bucket".as("qbucket"))
    emb.filter($"vec_id" =!= queryId)
      .join(broadcast(query), $"bucket" === $"qbucket")
      .select(
        $"vec_id", $"label", $"bucket",
        Quant.r4(cosine($"embedding", $"q")).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(k)
  }

  /** Batched ANN serving: top-k for a whole QUERY SET in one corpus scan.
    * The query block (nQueries × dim) broadcasts; every corpus partition
    * scores its rows against all queries locally and PRE-REDUCES them to a
    * bounded per-query top-k buffer ([[graft.functions.TopKAgg]], partial
    * ObjectHashAggregate) before the q_id exchange. This is the
    * offline-serving shape — scoring 100 TB against a million-query batch
    * reads the corpus exactly once, and the only shuffle carries
    * O(partitions × queries × k) candidate buffers, NOT the
    * |corpus| × |queries| scored rows a `row_number` window would move. */
  def batchTopK(spark: SparkSession, dir: String,
                nQueries: Int = 5, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("q"))
    emb.filter($"vec_id" >= nQueries)
      .crossJoin(broadcast(queries))
      .select($"q_id", $"vec_id",
        Quant.r4(cosine($"embedding", $"q")).as("cos_sim"))
      // NaN policy (documented, oracle-mirrored): cosine of a zero-norm
      // vector is NaN = "unscorable", and unscorable candidates are
      // EXCLUDED from serving results. Without this filter the engines
      // disagree: TopKAgg ranks NaN last while the oracle's
      // row_number(ORDER BY cos_sim DESC) ranks NaN first (NaN sorts
      // greatest in both DuckDB and Spark's sort).
      .filter(!isnan($"cos_sim"))
      .groupBy($"q_id")
      .agg(graft.functions.TopK.topK(k)($"cos_sim", $"vec_id").as("hits"))
      .select($"q_id", posexplode($"hits"))
      .select($"q_id", ($"pos" + 1).cast("int").as("rk"),
        $"col.vec_id".as("vec_id"), $"col.cos_sim".as("cos_sim"))
      .orderBy($"q_id", $"rk")
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * partitions the corpus into lists; a query probes only the `nprobe`
    * nearest lists and runs exact cosine there — the standard
    * billion-vector index shape (FAISS-style), relational here:
    *
    *   - centroids: the first `nlist` stored vectors (deterministic,
    *     seedless stand-in for a k-means codebook — codebook TRAINING is
    *     offline in real systems too, so the engine's job starts at
    *     assignment);
    *   - assignment: per-row argmax of centroid dot products — pure
    *     map-side expression work, NO shuffle of the corpus (at 100 TB the
    *     corpus would be written bucketed by `list_id`, making the probe a
    *     partition-pruned scan);
    *   - probe: the query's `nprobe` best lists, broadcast;
    *   - rerank: exact cosine over probed candidates, TakeOrdered top-k.
    */
  def ivfTopK(spark: SparkSession, dir: String,
              queryId: Long = 0L, k: Int = 10,
              nlist: Int = 16, nprobe: Int = 4,
              centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    // tiny codebook (nlist × dim doubles) — collected once, broadcast as a
    // literal into the assignment expression; pass [[trainedCentroids]]
    // for the Lloyd's-trained codebook (default keeps the deterministic
    // first-nlist seed so q35's oracle stays closed-form)
    val cents: Seq[Seq[Double]] = centroids.getOrElse(
      emb.filter($"vec_id" < nlist)
        .orderBy($"vec_id").select($"embedding").as[Seq[Float]]
        .collect().toSeq.map(_.map(_.toDouble)))  // collect-ok: O(codebook)
    val centsCol = typedlit(cents)
    val dots = transform(centsCol, c =>
      aggregate(zip_with($"embedding", c, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x))
    val assigned = emb
      .withColumn("dots", dots)
      .withColumn("list_id", array_position($"dots", array_max($"dots")))
    // the query's nprobe best lists: lists whose dot ≥ the nprobe-th
    // largest (sort desc, threshold at index nprobe)
    val probed = assigned.filter($"vec_id" === queryId)
      .select($"embedding".as("q"),
        filter(sequence(lit(1), size($"dots")),
          i => element_at($"dots", i) >=
            element_at(array_sort($"dots"), size($"dots") - nprobe + 1))
          .as("probe_lists"))
    assigned.filter($"vec_id" =!= queryId)
      .join(broadcast(probed), array_contains($"probe_lists", $"list_id"))
      .select($"vec_id", $"label", $"list_id".cast("long").as("list_id"),
        Quant.r4(cosine($"embedding", $"q")).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(k)
  }

  /** All-pairs kNN join: every vector's k nearest neighbors by cosine —
    * the semantic-clustering / retrieval-eval workhorse. Composes the two
    * scale primitives this module already proves out: candidate
    * generation by sign-LSH bucket (hot buckets capped via the
    * groupBy+join guard) and per-key ranking by the bounded
    * [[graft.functions.TopKAgg]] — so the plan is one bucket-keyed
    * self-join plus one partial-aggregated top-k shuffle carrying
    * O(vectors × k) buffers. Never O(n²) global, never a window. Recall
    * is bucket-local by design (neighbors in other buckets are unseen);
    * more planes → smaller buckets → cheaper join, lower recall — the
    * standard LSH knob. */
  def knnJoin(spark: SparkSession, dir: String,
              k: Int = 3, bits: Int = 4, maxBlock: Int = 500): DataFrame = {
    import spark.implicits._
    val bucketed = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        signLshBucket($"embedding", bits).as("bucket"),
        norm($"embedding").as("nrm"))
    val cached = graft.CacheGuard.barrier(bucketed)
    val emb = Guards.capHotKeys(cached, "bucket", maxBlock)
    emb.as("x").join(emb.as("y"),
        $"x.bucket" === $"y.bucket" && $"x.vec_id" =!= $"y.vec_id")
      .select($"x.vec_id".as("vec_id"),
        Quant.r4(dot($"x.embedding", $"y.embedding") / ($"x.nrm" * $"y.nrm"))
          .as("cos_sim"),
        $"y.vec_id".as("nbr"))
      // same NaN-exclusion policy as batchTopK (zero-norm → unscorable)
      .filter(!isnan($"cos_sim"))
      .groupBy($"vec_id")
      .agg(graft.functions.TopK.topK(k)($"cos_sim", $"nbr").as("hits"))
      .select($"vec_id", posexplode($"hits"))
      .select($"vec_id", ($"pos" + 1).cast("long").as("rk"),
        $"col.vec_id".as("nbr"), $"col.cos_sim".as("cos_sim"))
      .orderBy($"vec_id", $"rk")
  }

  /** Per-label embedding centroids in LONG form (label, dim, mean) — the
    * pooling/M-step primitive: class centroids for classification, the
    * k-means update for IVF codebook training, mean-pooled group
    * embeddings for retrieval. posexplode fans each vector into (dim,
    * value) rows and ONE partial-aggregated groupBy(label, dim) reduces
    * them — shuffle volume is O(labels × dim), never O(corpus), because
    * the map-side combine collapses each partition to its group means
    * before the exchange. Long form (not re-assembled arrays) keeps the
    * result joinable/oracle-hashable; `array_agg` re-assembly is one
    * more groupBy when a consumer wants vectors back. */
  def centroidsByLabel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding"))
      .groupBy($"label", ($"pos" + 1).cast("long").as("dim"))
      // + 0.0 canonicalizes IEEE negative zero (a tiny negative mean
      // rounds to -0.0 in one engine and 0.0 in the other)
      .agg((Quant.r4(avg($"col".cast("double"))) + lit(0.0)).as("mean_val"))
      .orderBy($"label", $"dim")
  }

  /** Symmetric int8 scalar quantization of the embedding column — the
    * 4×-compression pass a vector store runs before indexing (FAISS
    * SQ8-style): per-vector scale = 127 / max|x|, levels = round(x·scale),
    * plus the reconstruction-error audit (MSE, max level) a pipeline
    * alerts on. Pure per-row array expressions (transform/aggregate/
    * zip_with) — no shuffle, fully parallel, and the quantized array
    * would be written back as the compact index column at scale.
    * Rounding is `floor(x + 0.5)` explicitly: Java and C round() diverge
    * on negative halves, floor-plus-half is bit-identical in both
    * engines. Zero-norm vectors (scale undefined) pass through flagged
    * with null scale rather than poisoning the batch with NaN.
    *
    * The audit columns are INTEGER units (`scale_u4` in 1e-4, `mse_u8`
    * in 1e-8), quantized `floor(x·1eN + 0.5)` — an IEEE multiply+floor
    * both engines compute bit-identically. The former `round(mse, 8)`
    * double hit the sf1 probe's first real divergence: one vector's raw
    * MSE landed exactly on the 3.85e-7 half boundary, where Spark's
    * BigDecimal HALF_UP (via the shortest decimal repr) says 3.9e-7 and
    * DuckDB's numeric path says 3.8e-7 — the q158 decimal-conversion
    * class, closed here the same way as the round-8 money retirement. */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val amax = array_max(transform($"embedding", x => abs(x.cast("double"))))
    val withScale = emb
      .withColumn("amax", amax)
      .withColumn("scale", when($"amax" > 0.0, lit(127.0) / $"amax"))
    val q = transform($"embedding",
      x => floor(x.cast("double") * $"scale" + 0.5).cast("long"))
    val sqErr = zip_with($"embedding", $"q", (x, qi) => {
      val d = x.cast("double") - qi.cast("double") / $"scale"
      d * d
    })
    withScale
      .withColumn("q", q)
      .select($"vec_id",
        floor($"scale" * 1e4 + lit(0.5)).cast("long").as("scale_u4"),
        array_max(transform($"q", l => abs(l))).as("max_level"),
        floor(
          aggregate(sqErr, lit(0.0), (acc, x) => acc + x) /
            size($"embedding").cast("double") * 1e8 + lit(0.5))
          .cast("long").as("mse_u8"))
      .orderBy($"vec_id")
  }

  /** Lloyd's-TRAINED IVF codebook (closing the round-4 "first-nlist
    * stand-in" gap): k-means over the embedding corpus, `iters` full
    * assign→mean rounds, in INTEGER-EXACT arithmetic so both engines make
    * bit-identical assignment decisions:
    *
    *   - vectors quantize to a fixed e3 grid (`floor(x·1000 + 0.5)` —
    *     the q64 rounding pinned across engines), so dot products are
    *     exact BIGINTs;
    *   - a centroid is the RATIONAL (per-dim sum, member count) — never a
    *     rounded mean — so the assignment score `dot(e, sum_c) / n_c` is
    *     ONE correctly-rounded double division of exact integers:
    *     IEEE-identical in Spark and DuckDB, no accumulated float drift;
    *   - argmax tie-break = lowest list id (first-max `array_position`
    *     here, `ORDER BY score DESC, c` in the oracle).
    *
    * Scale shape: each E-step is map-side expression work against a
    * BROADCAST codebook literal (the corpus never shuffles); each M-step
    * is one posexplode + partial-aggregated groupBy(list, dim) — shuffle
    * O(nlist × dim), the [[centroidsByLabel]] shape. Between iterations
    * the nlist×dim codebook (≈1k values here) is collected — codebook-
    * sized by definition, the same driver-side loop FAISS training runs;
    * NOT a hot-path collect. Lists that lose every member carry their
    * previous centroid forward (standard k-means empty-cluster handling);
    * the final M-step aggregate ships as the query result, long-form. */
  def trainIvfCodebook(spark: SparkSession, dir: String,
                       nlist: Int = 16, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val eq = ivfQuantize(spark, dir)
    ivfMstep(ivfAssign(eq, ivfTrainRational(eq, nlist, iters)))
      .select($"list_id", $"n".as("n_members"), $"dim",
        (Quant.r6($"s".cast("double") / $"n".cast("double") / 1000.0) + lit(0.0))
          .as("centroid"))
      .orderBy($"list_id", $"dim")
  }

  /** Embeddings on the e3 integer grid (`floor(x·1000 + 0.5)` — the q64
    * rounding pinned across engines): the `(vec_id, e)` relation every
    * IVF stage works over. */
  private def ivfQuantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id",
        transform($"embedding",
          x => floor(x.cast("double") * 1000 + lit(0.5)).cast("long")).as("e"))
  }

  /** E-step: score every vector against the broadcast rational codebook
    * (`dot(e, sum_c) / n_c` — one correctly-rounded double division of
    * exact integers) and argmax with lowest-list tie-break. Map-side
    * expression work; the input never shuffles. */
  private def ivfAssign(vecs: DataFrame,
                        cb: IndexedSeq[(Seq[Long], Long)]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val sumsCol = typedlit(cb.map(_._1))
    val nsCol = typedlit(cb.map(_._2))
    val scores = transform(sequence(lit(1), lit(cb.size)), c =>
      aggregate(zip_with($"e", element_at(sumsCol, c), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
        .cast("double") / element_at(nsCol, c).cast("double"))
    vecs.withColumn("scores", scores)
      .withColumn("list_id",
        array_position($"scores", array_max($"scores")))
  }

  /** M-step aggregate: per-(list, dim) integer sums + member counts —
    * one posexplode + partial-aggregated groupBy, shuffle O(nlist×dim). */
  private def ivfMstep(a: DataFrame): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    a.select($"list_id", posexplode($"e"))
      .groupBy($"list_id", ($"pos" + 1).cast("long").as("dim"))
      .agg(sum($"col").as("s"), count(lit(1)).as("n"))
  }

  /** Fold one M-step result into a dense rational codebook (codebook-sized
    * collect — the FAISS driver loop, NOT a hot path); empty lists carry
    * their previous centroid forward. */
  private def ivfUpdate(m: DataFrame, prev: IndexedSeq[(Seq[Long], Long)],
                        nlist: Int): IndexedSeq[(Seq[Long], Long)] = {
    val rows = m.collect()  // collect-ok: O(codebook)
      .map(r => (r.getAs[Long]("list_id"), r.getAs[Long]("dim"),
        r.getAs[Long]("s"), r.getAs[Long]("n")))
      .groupBy(_._1)
    (1 to nlist).map { c =>
      rows.get(c.toLong) match {
        case Some(rs) => (rs.sortBy(_._2).map(_._3).toSeq, rs.head._4)
        case None => prev(c - 1)
      }
    }
  }

  /** Lloyd's training loop over any quantized `(vec_id, e)` relation:
    * codebook seeded from the first `nlist` vectors by id, `iters − 1`
    * assign→mean updates. Returns the rational codebook the FINAL
    * assignment (q69's published M-step) scores against. */
  private def ivfTrainRational(vecs: DataFrame, nlist: Int,
                               iters: Int): IndexedSeq[(Seq[Long], Long)] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var codebook: IndexedSeq[(Seq[Long], Long)] = vecs
      .select($"vec_id", $"e").orderBy($"vec_id").limit(nlist)
      .as[(Long, Seq[Long])].collect()  // collect-ok: O(codebook)
      .map { case (_, e) => (e, 1L) }.toIndexedSeq
    for (_ <- 1 until iters)
      codebook = ivfUpdate(ivfMstep(ivfAssign(vecs, codebook)), codebook, nlist)
    codebook
  }

  /** The trained codebook as per-list mean vectors in the ORIGINAL float
    * scale — the plug-in replacement for [[ivfTopK]]'s first-nlist
    * stand-in centroids (recall improvement spec-demonstrated). */
  def trainedCentroids(spark: SparkSession, dir: String,
                       nlist: Int = 16, iters: Int = 2): Seq[Seq[Double]] = {
    val rows = trainIvfCodebook(spark, dir, nlist, iters).collect()  // collect-ok: O(codebook)
      .map(r => (r.getAs[Long]("list_id"), r.getAs[Long]("dim"),
        r.getAs[Double]("centroid")))
      .groupBy(_._1)
    (1 to nlist).flatMap(c =>
      rows.get(c.toLong).map(_.sortBy(_._2).map(_._3).toSeq))
  }

  /** Probe counts audited by [[ivfProbeSweep]], shared with the q163
    * oracle. */
  val probeSweep = Seq(1, 2, 4, 8)

  /** IVF PROBE-COUNT dial — FAISS's main serving knob, measured (the
    * q123 recall/cost audit, for the IVF index q35/q69 built): for each
    * `nprobe`, the query probes its best-ranked lists only; reported
    * per setting: candidates scanned, scanned fraction of the corpus,
    * and recall@k against the exact top-k. The capacity planner reads
    * this table to pick nprobe; the monotone trade (more probes → more
    * scan → more recall) is the product.
    *
    * Scale shape: assignment is the q35 map-side expression against the
    * broadcast codebook (cache-barriered: every nprobe setting reuses
    * it); the list RANKING is per-query array arithmetic; candidates
    * pre-reduce through bounded TopKAgg per (nprobe) — one
    * ObjectHashAggregate, no Window; the sweep fans out via a broadcast
    * 4-row table. */
  def ivfProbeSweep(spark: SparkSession, dir: String,
                    queryId: Long = 0L, k: Int = 10,
                    nlist: Int = 16): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents: Seq[Seq[Double]] = emb.filter($"vec_id" < nlist)
      .orderBy($"vec_id").select($"embedding").as[Seq[Float]]
      .collect().toSeq.map(_.map(_.toDouble))  // collect-ok: O(codebook)
    val centsCol = typedlit(cents)
    val dots = transform(centsCol, c =>
      aggregate(zip_with($"embedding", c, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x))
    val assigned = graft.CacheGuard.barrier(emb
      .withColumn("dots", dots)
      .withColumn("list_id", array_position($"dots", array_max($"dots"))))
    // the query's list ranking: rank of list c = 1 + #lists strictly
    // better under (dot desc, c asc) — pure array arithmetic, no sort
    val ranked = assigned.filter($"vec_id" === queryId)
      .select($"embedding".as("qv"),
        transform(sequence(lit(1), lit(nlist)), c =>
          (size(filter(sequence(lit(1), lit(nlist)), i =>
            element_at($"dots", i) > element_at($"dots", c) ||
              (element_at($"dots", i) === element_at($"dots", c) && i < c)))
            + 1).cast("long")).as("ranks"))
    val nps = probeSweep.map(_.toLong).toDF("nprobe")
    val cand = assigned.filter($"vec_id" =!= queryId)
      .crossJoin(broadcast(ranked))
      .crossJoin(broadcast(nps))
      .filter(element_at($"ranks", $"list_id".cast("int")) <= $"nprobe")
      .select($"nprobe", $"vec_id",
        Quant.r4(cosine($"embedding", $"qv")).as("cos"))
      .filter(!isnan($"cos"))
    val exact = bruteForceTopK(spark, dir, queryId, k)
      .select($"vec_id").withColumn("in_exact", lit(true))
    val tot = emb.filter($"vec_id" =!= queryId)
      .agg(count(lit(1)).as("n_total"))
    cand.groupBy($"nprobe")
      .agg(count(lit(1)).as("n_candidates"),
        graft.functions.TopK.topK(k)($"cos", $"vec_id").as("hits"))
      .select($"nprobe", $"n_candidates", posexplode($"hits"))
      .select($"nprobe", $"n_candidates", $"col.vec_id".as("vec_id"))
      .join(exact, Seq("vec_id"), "left")
      .groupBy($"nprobe", $"n_candidates")
      .agg(sum(when($"in_exact", 1L).otherwise(0L)).as("n_recalled"))
      .crossJoin(broadcast(tot))
      .select($"nprobe", $"n_candidates",
        Quant.r4($"n_candidates".cast("double") / $"n_total".cast("double"))
          .as("scanned_frac"),
        $"n_recalled",
        Quant.r4($"n_recalled".cast("double") / k).as("recall"))
      .orderBy($"nprobe")
  }

  /** Embedding HEALTH report — the isotropy check run before trusting
    * cosine retrieval (Ethayarajh 2019: anisotropic spaces squash cosine
    * contrast; a dimension hoarding variance dominates every score): per
    * dimension, the mean, variance and share of total variance over the
    * e3-quantized corpus. `var_share` far above 1/dims flags a rogue
    * dimension (the practical fix being mean-centering or whitening —
    * whose input statistics are exactly these columns).
    *
    * Exactness: sums and sums-of-squares are exact BIGINTs on the e3
    * grid, and the variance is kept as the exact RATIONAL
    * `v_num/n² = (n·ssq − s²)/n²` — integer numerator, so the
    * cross-dimension TOTAL is an exact integer sum (a float total would
    * be summation-order-dependent: the 10×-scale differential run
    * caught exactly that in this query's first cut). Every output is
    * one correctly-rounded division of exact integers.
    *
    * Scale shape: one posexplode + partial-aggregated groupBy(dim) —
    * exchange O(dims); the variance total is a broadcast scalar. */
  def embeddingHealth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = ivfQuantize(spark, dir)
      .select(posexplode($"e"))
      .groupBy(($"pos" + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum($"col").as("s"),
        sum($"col" * $"col").as("ssq"))
      .select($"dim", $"n", $"s",
        ($"n".cast("decimal(38,0)") * $"ssq" -
          $"s".cast("decimal(38,0)") * $"s").as("vnum"))
    val tot = stats.agg(sum($"vnum").as("vnum_tot"))
    stats.crossJoin(broadcast(tot))
      .select($"dim",
        // mean quantized via floor(+0.5) on s·1000/n (ONE correctly-
        // rounded division of exact integers): s/n often TERMINATES at
        // exactly 6 decimals on round counts, and round()'s half-case
        // disagrees between the engines' decimal conversions — the
        // integer quantization has no such boundary. The ×1000 happens
        // in INTEGER space before the single double cast, matching the
        // oracle's CAST(s*1000 AS DOUBLE)/n exactly — casting s first
        // adds a second rounding that can flip the floor past 2^53.
        (floor(($"s" * 1000).cast("double") / $"n".cast("double") +
          lit(0.5)).cast("long").cast("double") / 1e6).as("mean"),
        Quant.r6($"vnum".cast("double") /
          ($"n" * $"n").cast("double") / 1e6).as("variance"),
        Quant.r6($"vnum".cast("double") / $"vnum_tot".cast("double"))
          .as("var_share"))
      .orderBy($"dim")
  }

  /** Delta split modulus (every 5th vector is "newly arrived") and the
    * retrain thresholds, shared with the q143 oracle and spec. */
  val ivfDeltaMod = 5L
  val ivfDriftTau = 0.08
  val ivfGrowthTau = 0.5

  /** Incremental IVF index MAINTENANCE audit (q80's diff composed with
    * q69's codebook): the index was trained on the BASE corpus (vec_id %
    * [[ivfDeltaMod]] ≠ 0); a DELTA batch arrives and is assigned to the
    * trained centroids WITHOUT retraining — O(delta) map-side work
    * against the broadcast codebook, the whole point of incremental
    * maintenance. Per list: stored-index member count, delta arrivals,
    * growth ratio, and CENTROID DRIFT — the L2 distance between the
    * stored centroid (s_b/n_b) and what the centroid would become if the
    * delta were folded in ((s_b+s_d)/(n_b+n_d)) — flagging lists whose
    * drift or growth crosses the retrain thresholds (FAISS's "when to
    * re-run k-means" signal, as a query).
    *
    * Exactness: per-dim drift has the closed form
    * `(s_b·n_d − n_b·s_d) / (n_b·(n_b+n_d))` — an EXACT integer
    * numerator; squares are summed in DECIMAL/HUGEINT so the only float
    * steps are one cast, one sqrt and one division, correctly rounded
    * identically in both engines.
    *
    * Scale shape: training and base stats touch the base corpus (the
    * stored index — a real system reads these stats from index
    * metadata); the DELTA path is one assign+aggregate over delta rows
    * only, shuffle O(nlist × dim). Nothing joins base rows to delta
    * rows — the audit join is between two nlist×dim stat relations. */
  def ivfDeltaAudit(spark: SparkSession, dir: String,
                    nlist: Int = 16, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val eqAll = ivfQuantize(spark, dir)
    val base = eqAll.filter($"vec_id" % ivfDeltaMod =!= 0)
    val delta = eqAll.filter($"vec_id" % ivfDeltaMod === 0)
    val trained = ivfTrainRational(base, nlist, iters)
    // the stored index: centroids after the final M-step over base
    val cbFinal = ivfUpdate(ivfMstep(ivfAssign(base, trained)), trained, nlist)
    val bstats = ivfMstep(ivfAssign(base, cbFinal))
      .select($"list_id", $"dim", $"s".as("s_b"), $"n".as("n_b"))
    val dstats = ivfMstep(ivfAssign(delta, cbFinal))
      .select($"list_id", $"dim", $"s".as("s_d"), $"n".as("n_d"))
    val cells = bstats.join(dstats, Seq("list_id", "dim"), "full_outer")
      .select($"list_id",
        coalesce($"s_b", lit(0L)).as("s_b"),
        coalesce($"n_b", lit(0L)).as("n_b"),
        coalesce($"s_d", lit(0L)).as("s_d"),
        coalesce($"n_d", lit(0L)).as("n_d"))
      .withColumn("nm", $"s_b" * $"n_d" - $"n_b" * $"s_d")
    cells.groupBy($"list_id")
      .agg(max($"n_b").as("n_base"), max($"n_d").as("n_delta"),
        sum($"nm".cast("decimal(38,0)") * $"nm".cast("decimal(38,0)"))
          .as("ssq"))
      .select($"list_id", $"n_base", $"n_delta",
        Quant.r4($"n_delta".cast("double") /
          greatest($"n_base", lit(1L)).cast("double")).as("growth"),
        when($"n_base" > 0 && $"n_delta" > 0,
          Quant.r6(sqrt($"ssq".cast("double")) /
            ($"n_base" * ($"n_base" + $"n_delta")).cast("double") / 1000.0))
          .otherwise(lit(0.0)).as("drift"))
      .withColumn("needs_retrain",
        ($"n_base" === 0 && $"n_delta" > 0) ||
          $"drift" > ivfDriftTau || $"growth" > ivfGrowthTau)
      .orderBy($"list_id")
  }

  /** Embedding-cosine near-duplicate pairs, LSH-blocked: pairs sharing a
    * sign-LSH bucket with cosine ≥ threshold. The bucket join replaces the
    * O(n²) cross join with per-bucket locality — the standard semantic-dedup
    * shape for training corpora.
    *
    * Buckets larger than `maxBlock` are dropped before the self-join (the
    * same degenerate-key guard as [[DedupOps.ngramJaccardPairs]]): real
    * embedding corpora cluster heavily, and one hot bucket would otherwise
    * make the join quadratic on a single cluster partition. At scale the
    * dropped buckets are exactly the ones to re-block with more planes. */
  def embeddingNearDupPairs(spark: SparkSession, dir: String,
                            threshold: Double = 0.95, bits: Int = 16,
                            maxBlock: Int = 20): DataFrame = {
    import spark.implicits._
    // embeddings are random vectors with no natural near-dups at any SF, so
    // pair the table with an id-shifted copy of itself (mirrors
    // DedupOps.dupCorpus); every vector then has one exact duplicate.
    // Norms are computed ONCE per vector before the join — per-pair work is
    // just the dot product, and 16 planes keep buckets near-singleton so
    // the pair count stays ~n instead of n²/buckets.
    val base = Tables.embeddings(spark, dir)
    // cache() is an optimization BARRIER (same rationale as
    // DedupOps.ngramJaccardPairs): without it the 2^bits-plane bucket
    // expression and the norm are recomputed in all four consumers (both
    // self-join sides + the guard aggregation under each)
    val bucketed = base
      .unionByName(base.withColumn("vec_id", $"vec_id" + 100000L))
      .select($"vec_id", $"embedding",
        signLshBucket($"embedding", bits).as("bucket"),
        norm($"embedding").as("nrm"))
    val cached = graft.CacheGuard.barrier(bucketed)
    val emb = Guards.capHotKeys(cached, "bucket", maxBlock)
    emb.as("x").join(emb.as("y"),
        $"x.bucket" === $"y.bucket" && $"x.vec_id" < $"y.vec_id")
      .select(
        $"x.vec_id".as("a"), $"y.vec_id".as("b"),
        Quant.r4(dot($"x.embedding", $"y.embedding") / ($"x.nrm" * $"y.nrm"))
          .as("cos_sim"))
      .filter($"cos_sim" >= threshold)
      .orderBy($"a", $"b")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with the TRAINED IVF codebook
    * ([[trainedCentroids]], q69's 2-iteration Lloyd's), then prune
    * near-duplicates WITHIN each cluster — a vector is dropped when a
    * lower-id member of its own cluster sits above the cosine threshold.
    * Clustering bounds the candidate set exactly like LSH blocking does in
    * [[embeddingNearDupPairs]], but with learned (data-shaped) regions:
    * semantically close vectors land in one list, so cross-cluster pairs
    * never need checking.
    *
    * Plan shape at 100 TB: centroid assignment is map-side work against a
    * broadcast nlist×dim codebook (no shuffle); the only shuffles are the
    * list-keyed self-join and the per-vector max aggregate. Cluster sizes
    * are what bound the join — at corpus scale nlist grows ∝ N (SemDeDup
    * uses ~√N to n/1000 clusters) so per-list pair counts stay ~constant;
    * the 16-list default here matches the q69 codebook the oracle can
    * replay. Norms are computed once per vector before the join. */
  def semanticDedup(spark: SparkSession, dir: String,
                    nlist: Int = 16, iters: Int = 2,
                    threshold: Double = 0.92): DataFrame = {
    import spark.implicits._
    val cents = trainedCentroids(spark, dir, nlist, iters)
    require(cents.size == nlist,
      s"trained codebook has ${cents.size} lists, expected $nlist — " +
        "an empty list would silently shift assignment indices")
    val centsCol = typedlit(cents)
    val base = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val corpus = base.unionByName(
      base.withColumn("vec_id", $"vec_id" + 100000L))
    // same rational-mean score as ivfTopK/trainIvfCodebook: argmax of
    // dot(v, centroid); array_position takes the FIRST max = lowest list
    val assigned = corpus
      .withColumn("scores", transform(sequence(lit(1), lit(nlist)),
        c => dot($"embedding", element_at(centsCol, c))))
      .select($"vec_id", $"embedding",
        array_position($"scores", array_max($"scores")).as("list_id"),
        norm($"embedding").as("nrm"))
    val cached = graft.CacheGuard.barrier(assigned)
    val lower = cached.as("x").join(cached.as("y"),
        $"x.list_id" === $"y.list_id" && $"x.vec_id" < $"y.vec_id")
      .select($"y.vec_id".as("vec_id"),
        Quant.r4(dot($"x.embedding", $"y.embedding") / ($"x.nrm" * $"y.nrm"))
          .as("cs"))
      .groupBy($"vec_id").agg(max($"cs").as("mx"))
    // barrier stays live until the consumer's CacheGuard.release() — the
    // same lazy-query contract as embeddingNearDupPairs
    cached.join(lower, Seq("vec_id"), "left")
      .select($"vec_id", $"list_id",
        coalesce($"mx", lit(-2.0)).as("max_cos_lower"),
        (coalesce($"mx", lit(-2.0)) < threshold).as("is_kept"))
      .orderBy($"vec_id")
  }

  /** ANN recall audit — the index-quality eval a serving team runs as a
    * standing data job: exact top-k per query (the [[batchTopK]] shape)
    * joined against the sign-LSH index's top-k, reporting per-query
    * candidate counts and recall@k. Recall of an approximate index is a
    * MEASURED quantity, not an assumption — this query is the
    * measurement, and a regression here is what pages the index owner.
    *
    * Scale shape: both sides are one corpus scan with a broadcast query
    * block and bounded TopKAgg pre-reduction (no windows over the
    * corpus); the final recall join runs on O(queries × k) rows. */
  def annRecallAudit(spark: SparkSession, dir: String,
                     nQueries: Int = 10, k: Int = 10,
                     bits: Int = 4): DataFrame = {
    import spark.implicits._
    val exact = batchTopK(spark, dir, nQueries, k)
      .select($"q_id", $"vec_id")
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"),
        signLshBucket($"embedding", bits).as("qb"))
    val lsh = emb.filter($"vec_id" >= nQueries)
      .withColumn("bucket", signLshBucket($"embedding", bits))
      .join(broadcast(queries), $"bucket" === $"qb")
      .select($"q_id", $"vec_id",
        Quant.r4(cosine($"embedding", $"qe")).as("cos_sim"))
      .filter(!isnan($"cos_sim"))
      .groupBy($"q_id")
      .agg(graft.functions.TopK.topK(k)($"cos_sim", $"vec_id").as("hits"))
      .select($"q_id", explode($"hits").as("h"))
      .select($"q_id", $"h.vec_id".as("vec_id"))
    val nOv = exact.join(lsh, Seq("q_id", "vec_id"))
      .groupBy($"q_id").agg(count(lit(1)).as("n_overlap"))
    val nEx = exact.groupBy($"q_id").agg(count(lit(1)).as("n_exact"))
    val nLs = lsh.groupBy($"q_id").agg(count(lit(1)).as("n_lsh"))
    queries.select($"q_id")
      .join(nEx, Seq("q_id"), "left")
      .join(nLs, Seq("q_id"), "left")
      .join(nOv, Seq("q_id"), "left")
      .select($"q_id",
        coalesce($"n_exact", lit(0L)).as("n_exact"),
        coalesce($"n_lsh", lit(0L)).as("n_lsh"),
        coalesce($"n_overlap", lit(0L)).as("n_overlap"),
        (Quant.r4(coalesce($"n_overlap", lit(0L)).cast("double") /
          coalesce($"n_exact", lit(1L)).cast("double")) + lit(0.0))
          .as("recall"))
      .orderBy($"q_id")
  }

  /** Product quantization (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): split each vector into `m` subvectors,
    * k-means each subspace independently (one Lloyd's update from a
    * first-k seed, the q69 discipline on the same e3 integer grid), and
    * encode every vector as m small codes — 64 dims × float32 collapse
    * to m bytes, the compression that makes billion-vector ANN indexes
    * fit in memory. Emits one row per (vec_id, sub) with the chosen code
    * and the integer-exact squared reconstruction error (the per-batch
    * audit column, q64's SQ8 discipline).
    *
    * Fully distributed — unlike [[trainIvfCodebook]] the codebook never
    * visits the driver: it is an (m×k)-row DataFrame broadcast into each
    * assignment join, the M-step is a keyed aggregation, and argmin is a
    * partial-aggregable `min_by` over struct ordering (score, then lowest
    * code — no window, no collect). At 100 TB: two broadcast joins and
    * three keyed shuffles total, all combiner-reduced; scores use
    * rational (sum, n) centroids so assignment is IEEE-identical to the
    * DuckDB replay (||v−s/n||² compared via s·s/n² − 2·v·s/n, exact-int
    * double divisions). */
  def pqEncode(spark: SparkSession, dir: String,
               m: Int = 8, k: Int = 16): DataFrame = {
    import spark.implicits._
    val cached = pqSubvectors(spark, dir, m)
    val cb1 = pqCodebook(cached, k)
    // encode against the trained codebook; err2 audits the quantization
    // (grid-space squared error, reported in original float scale)
    val enc = pqScored(cached, cb1)
      .withColumn("ds", zip_with($"se", $"s",
        (x, y) => x.cast("double") - y.cast("double") / $"n".cast("double")))
      .withColumn("err2", aggregate(transform($"ds", x => x * x),
        lit(0.0), (a, x) => a + x))
      .groupBy($"vec_id", $"sub")
      .agg(min_by(struct($"c".as("code"), $"err2"), struct($"score", $"c")).as("w"))
    enc.select($"vec_id", $"sub", $"w.code".as("code"),
        (Quant.r6($"w.err2" / lit(1000000.0)) + lit(0.0)).as("err2"))
      .orderBy($"vec_id", $"sub")
  }

  /** Subvector table on the e3 grid: (vec_id, sub, se) — cache-barriered
    * because training and encoding both consume it. */
  private def pqSubvectors(spark: SparkSession, dir: String, m: Int): DataFrame = {
    import spark.implicits._
    val sd = 64 / m
    // repartition-after-scan (r16): every downstream PQ pass (training
    // E-step, encode) is interpreted higher-order-function work that runs
    // MAP-SIDE on the scan partitioning — and a small embeddings table is
    // one parquet file, i.e. ONE partition, serializing all of it on one
    // core (sf10 decade probe: wall 243 s at average parallelism ~1.5).
    // Hash-distributing by the join/group key restores the cluster's
    // width; on a real many-file corpus the exchange is ~neutral.
    val eq = Tables.embeddings(spark, dir)
      .repartition($"vec_id")
      .select($"vec_id",
        transform($"embedding",
          x => floor(x.cast("double") * 1000 + lit(0.5)).cast("long")).as("e"))
    graft.CacheGuard.barrier(
      eq.select($"vec_id", posexplode(
          transform(sequence(lit(0), lit(m - 1)),
            s => slice($"e", s * lit(sd) + 1, lit(sd)))))
        .select($"vec_id", $"pos".cast("long").as("sub"), $"col".as("se")))
  }

  /** Per-(row, candidate) L2 score against a broadcast codebook:
    * argmin_c ||v - s/n||² ⟺ argmin_c s·s/n² − 2·v·s/n (v·v is constant
    * per row); all dot products exact 64-bit ints before one division. */
  private def pqScored(sv: DataFrame, cb: DataFrame): DataFrame = {
    import sv.sparkSession.implicits._
    sv.join(broadcast(cb), "sub")
      .withColumn("dot", aggregate(zip_with($"se", $"s", (x, y) => x * y),
        lit(0L), (a, x) => a + x))
      .withColumn("ss", aggregate(transform($"s", x => x * x),
        lit(0L), (a, x) => a + x))
      .withColumn("score",
        $"ss".cast("double") / ($"n" * $"n").cast("double")
          - (lit(2L) * $"dot").cast("double") / $"n".cast("double"))
  }

  /** One Lloyd's update from the first-k seed, per subspace: the trained
    * (sub, c) → (sum-vector, n) codebook as a small DataFrame.
    *
    * The M-step carries each row's subvector THROUGH the E-step argmin
    * (`min_by(struct(code, se), …)`) instead of joining the assignment
    * back to the subvector relation: the join-back form put a corpus-
    * sized ObjectHashAggregate on the BUILD side of a BroadcastHashJoin
    * — Catalyst's post-aggregate size estimate undercuts the broadcast
    * threshold, and the single-threaded build of 1.6M object rows
    * measured 204 s of the 442 s sf10 decade reading (r16 per-step
    * decomposition; the equivalent encode pass is 4 s). No join after
    * the aggregate = nothing left to misestimate. */
  private def pqCodebook(sv: DataFrame, k: Int): DataFrame = {
    import sv.sparkSession.implicits._
    val cb0 = sv.filter($"vec_id" < k)
      .select($"sub", ($"vec_id" + 1).as("c"), $"se".as("s"), lit(1L).as("n"))
    val a1 = pqScored(sv, cb0).groupBy($"vec_id", $"sub")
      .agg(min_by(struct($"c".as("code"), $"se".as("se")),
        struct($"score", $"c")).as("best"))
      .select($"sub", $"best.code".as("c"), $"best.se".as("se"))
    // M-step: per-(sub, code, dim) integer sums → dim-ordered sum vectors
    a1.select($"sub", $"c", posexplode($"se"))
      .groupBy($"sub", $"c", ($"pos" + 1).cast("long").as("dim"))
      .agg(sum($"col").as("sd_sum"), count(lit(1)).as("cnt"))
      .groupBy($"sub", $"c")
      .agg(transform(array_sort(collect_list(struct($"dim", $"sd_sum"))),
          x => x("sd_sum")).as("s"),
        min($"cnt").as("n"))
  }

  /** ADC (asymmetric distance computation) top-k over the PQ codes — the
    * search-time payoff of [[pqEncode]]: the query builds an m×k distance
    * LOOKUP TABLE against the codebook once, and each encoded vector is
    * scored by m table lookups instead of a 64-dim float scan. At 100 TB
    * the corpus side touches only its codes (m bytes/vector): the LUT is
    * broadcast, the per-vector sum folds the m entries in subspace order
    * (deterministic — a plain double `sum()` would be partition-order
    * dependent), and top-k is TakeOrdered, never a global sort.
    *
    * Distances are estimates (quantization error ≥ 0 vs exact L2); the
    * q85 err2 column is exactly the per-subspace gap. */
  def pqAdcTopK(spark: SparkSession, dir: String,
                queryId: Long = 0L, topK: Int = 10,
                m: Int = 8, k: Int = 16): DataFrame = {
    import spark.implicits._
    val cached = pqSubvectors(spark, dir, m)
    // barrier: cb1 is O(m·k) rows over a corpus-scale training plan,
    // consumed by both the encode scoring and the LUT (r16 — the double
    // evaluation was half the q179 decade inflation)
    val cb1 = graft.CacheGuard.barrier(pqCodebook(cached, k))
    val codes = pqScored(cached, cb1).groupBy($"vec_id", $"sub")
      .agg(min_by($"c", struct($"score", $"c")).as("code"))
    val qsv = cached.filter($"vec_id" === queryId)
      .select($"sub", $"se".as("qe"),
        aggregate(transform($"se", x => x * x), lit(0L), (a, x) => a + x)
          .as("qq"))
    // LUT row (sub, c): ||q_sub − cent||² = qq + (s·s/n² − 2·q·s/n) —
    // the parenthesization is part of the cross-engine contract
    val lut = cb1.join(qsv, "sub")
      .withColumn("qdot", aggregate(zip_with($"qe", $"s", (x, y) => x * y),
        lit(0L), (a, x) => a + x))
      .withColumn("ss", aggregate(transform($"s", x => x * x),
        lit(0L), (a, x) => a + x))
      .select($"sub".as("lsub"), $"c",
        ($"qq".cast("double") +
          ($"ss".cast("double") / ($"n" * $"n").cast("double")
            - (lit(2L) * $"qdot").cast("double") / $"n".cast("double")))
          .as("d"))
    codes.join(broadcast(lut),
        codes("sub") === lut("lsub") && codes("code") === lut("c"))
      .groupBy($"vec_id")
      .agg(aggregate(transform(array_sort(collect_list(struct($"lsub", $"d"))),
          x => x("d")), lit(0.0), (a, x) => a + x).as("g"))
      .filter($"vec_id" =!= queryId)
      .select($"vec_id", (Quant.r4($"g" / lit(1000000.0)) + lit(0.0)).as("adc_dist2"))
      .orderBy($"adc_dist2", $"vec_id")
      .limit(topK)
  }

  /** Retrieval-ranking evaluation — [[annRecallAudit]] upgraded from set
    * overlap to ORDER-aware metrics: per query, the sign-LSH index's
    * MRR (reciprocal rank of its first truly-relevant hit) and NDCG@k
    * against the exact top-k as graded-irrelevant/relevant ground truth.
    * Recall says "did the index find them"; NDCG says "did it put them
    * first" — the number a serving team actually tracks release-over-
    * release.
    *
    * Scale shape: both sides are the one-scan broadcast-query bounded-
    * TopKAgg shape (q42/q93); the metric join runs on O(queries × k)
    * rows. Float discipline: each rank's 1/log2(rank+1) gain is
    * quantized to integer micro-units per (query, rank) row and SUMMED
    * AS BIGINTs, so DCG/IDCG are exact integers in both engines; only
    * the final ratio is rounded. */
  def rankingEval(spark: SparkSession, dir: String,
                  nQueries: Int = 10, k: Int = 10,
                  bits: Int = 4): DataFrame = {
    import spark.implicits._
    val exact = graft.CacheGuard.barrier(
      batchTopK(spark, dir, nQueries, k).select($"q_id", $"vec_id"))
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"),
        signLshBucket($"embedding", bits).as("qb"))
    val lsh = emb.filter($"vec_id" >= nQueries)
      .withColumn("bucket", signLshBucket($"embedding", bits))
      .join(broadcast(queries), $"bucket" === $"qb")
      .select($"q_id", $"vec_id",
        Quant.r4(cosine($"embedding", $"qe")).as("cos_sim"))
      .filter(!isnan($"cos_sim"))
      .groupBy($"q_id")
      .agg(graft.functions.TopK.topK(k)($"cos_sim", $"vec_id").as("hits"))
      .select($"q_id", posexplode($"hits"))
      .select($"q_id", ($"pos" + 1).cast("long").as("rk"),
        $"col.vec_id".as("vec_id"))
    // graded relevance: 1 iff the LSH hit is in the exact top-k
    val gain = (rk: org.apache.spark.sql.Column) =>
      floor(lit(1e6) / log2(rk.cast("double") + 1.0) + lit(0.5)).cast("long")
    val scored = lsh.join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"q_id").agg(
        count(lit(1)).as("n_relevant"),
        min($"rk").as("first_rel"),
        sum(gain($"rk")).as("dcg_u"))
    val ideal = exact.groupBy($"q_id").agg(count(lit(1)).as("n_exact"))
      .select($"q_id", $"n_exact",
        explode(sequence(lit(1L), $"n_exact")).as("irk"))
      .groupBy($"q_id", $"n_exact").agg(sum(gain($"irk")).as("idcg_u"))
    ideal.join(scored, Seq("q_id"), "left")
      .select($"q_id", $"n_exact",
        coalesce($"n_relevant", lit(0L)).as("n_relevant"),
        (Quant.r4(when($"first_rel".isNotNull,
          lit(1.0) / $"first_rel".cast("double")).otherwise(lit(0.0)))
          + lit(0.0)).as("mrr"),
        (Quant.r4(coalesce($"dcg_u", lit(0L)).cast("double") /
          $"idcg_u".cast("double")) + lit(0.0)).as("ndcg"))
      .orderBy($"q_id")
  }

  /** Multi-probe sign-LSH audit — the recall/cost dial every LSH serving
    * system exposes (Lv et al. 2007): besides a query's own bucket,
    * probe the `bits` buckets at Hamming distance 1 (one hyperplane's
    * sign flipped — the likeliest place a near neighbor lands when it
    * straddles a plane). Reported per query: candidate counts and
    * recall@k for single-probe vs multi-probe against the exact top-k —
    * the measured trade a capacity planner picks the probe count from.
    *
    * Scale shape: the probe set is queries × (bits+1) rows — still a
    * broadcast; the corpus is scanned ONCE (each vector has one bucket,
    * probe buckets are distinct, so the join fans out at most one match
    * per query) and candidates pre-reduce through bounded TopKAgg. The
    * scored candidate relation is cache-barriered because the
    * single-probe and multi-probe reductions both consume it. */
  def multiProbeAudit(spark: SparkSession, dir: String,
                      nQueries: Int = 10, k: Int = 10,
                      bits: Int = 4): DataFrame = {
    import spark.implicits._
    val exact = graft.CacheGuard.barrier(
      batchTopK(spark, dir, nQueries, k).select($"q_id", $"vec_id"))
    val emb = Tables.embeddings(spark, dir)
    val masks = (0L +: (0 until bits).map(j => 1L << j)).toDF("mask")
    val probes = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"),
        signLshBucket($"embedding", bits).as("qb"))
      .crossJoin(masks)
      .select($"q_id", $"qe", ($"qb".bitwiseXOR($"mask")).as("pb"),
        ($"mask" === 0).as("is_home"))
    val scored = graft.CacheGuard.barrier(
      emb.filter($"vec_id" >= nQueries)
        .withColumn("bucket", signLshBucket($"embedding", bits))
        .join(broadcast(probes), $"bucket" === $"pb")
        .select($"q_id", $"vec_id", $"is_home",
          Quant.r4(cosine($"embedding", $"qe")).as("cos_sim"))
        .filter(!isnan($"cos_sim")))
    def audit(cands: DataFrame, nName: String, rName: String): DataFrame = {
      val top = cands.groupBy($"q_id")
        .agg(count(lit(1)).as(nName),
          graft.functions.TopK.topK(k)($"cos_sim", $"vec_id").as("hits"))
      // count relevant hits SEPARATELY and left-join back: a query whose
      // top-k has zero overlap with the exact set must keep its candidate
      // count with recall 0, not vanish from the audit
      val hits = top.select($"q_id", explode($"hits").as("h"))
        .select($"q_id", $"h.vec_id".as("vec_id"))
        .join(exact, Seq("q_id", "vec_id"), "left_semi")
        .groupBy($"q_id").agg(count(lit(1)).as("nh"))
      top.select($"q_id", col(nName))
        .join(hits, Seq("q_id"), "left")
        .select($"q_id", col(nName),
          Quant.r4(coalesce($"nh", lit(0L)).cast("double") / k).as(rName))
    }
    val single = audit(scored.filter($"is_home"), "n_single", "recall_single")
    val multi = audit(scored, "n_multi", "recall_multi")
    exact.select($"q_id").distinct()
      .join(single, Seq("q_id"), "left")
      .join(multi, Seq("q_id"), "left")
      .select($"q_id",
        coalesce($"n_single", lit(0L)).as("n_single"),
        coalesce($"n_multi", lit(0L)).as("n_multi"),
        (coalesce($"recall_single", lit(0.0)) + lit(0.0)).as("recall_single"),
        (coalesce($"recall_multi", lit(0.0)) + lit(0.0)).as("recall_multi"))
      .orderBy($"q_id")
  }

  /** Hard-negative mining — the contrastive-training data job: for each
    * anchor (every `step`-th stored vector), the top-k most-similar
    * vectors with a DIFFERENT label. High-cosine different-label pairs
    * are exactly the "hard" negatives a retrieval/embedding trainer
    * wants in its batches (easy random negatives teach nothing).
    *
    * Scale shape: [[batchTopK]]'s exactly — anchors broadcast, corpus
    * scanned once, per-anchor candidates pre-reduced by the bounded
    * [[graft.functions.TopKAgg]] buffer map-side (ObjectHashAggregate
    * partials), so the only exchange carries O(partitions × anchors × k)
    * buffers. The label filter runs before scoring, so same-label rows
    * never even pay the cosine. NaN policy is q42's: zero-norm vectors
    * are unscorable and excluded. */
  def hardNegatives(spark: SparkSession, dir: String,
                    step: Int = 50, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val anchors = emb.filter($"vec_id" % step === 0)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"embedding".as("qe"))
    emb.crossJoin(broadcast(anchors))
      .filter($"label" =!= $"q_label")
      .select($"q_id", $"q_label", $"vec_id",
        Quant.r4(cosine($"embedding", $"qe")).as("cos_sim"))
      .filter(!isnan($"cos_sim"))
      .groupBy($"q_id", $"q_label")
      .agg(graft.functions.TopK.topK(k)($"cos_sim", $"vec_id").as("hits"))
      .select($"q_id", $"q_label", posexplode($"hits"))
      .select($"q_id", $"q_label", ($"pos" + 1).cast("int").as("rk"),
        $"col.vec_id".as("vec_id"), $"col.cos_sim".as("cos_sim"))
      .orderBy($"q_id", $"rk")
  }

  /** Embedding-space outlier detection — the corpus-hygiene pass that
    * flags vectors far from their own label's centroid (mislabeled rows,
    * embedding-model failures, adversarial junk): per-label z-scores of
    * the Euclidean distance to the [[centroidsByLabel]] centroid, top-N
    * by z.
    *
    * Scale shape: the centroid model is an O(labels × dim) relation —
    * built by one partial-aggregated shuffle (q51's), collapsed to a
    * dim-ordered array per label, and BROADCAST back, so the corpus is
    * scanned once with pure per-row distance work (index-ordered
    * [[graft.functions.VectorFunctions.dot]] fold — the q22 cosine
    * machinery — no explode of the corpus). Per-label distance stats are
    * one more keyed aggregation; the top-N is TakeOrdered.
    *
    * Cross-engine float discipline: distances are quantized to integer
    * micro-units per row (q71's trick), so the per-label sums are EXACT
    * integers (decimal-typed — Spark long sums would overflow at corpus
    * scale, and the oracle's HUGEINT must see identical values); the
    * z-score is derived from those exact sums in one pinned expression
    * (`(n·u − Σu) / √(n·Σu² − (Σu)²)` — integer numerator/radicand, one
    * division, rounded), immune to row-order float drift in both
    * engines. */
  def embeddingOutliers(spark: SparkSession, dir: String,
                        topN: Int = 20): DataFrame = {
    import spark.implicits._
    val cent = centroidsByLabel(spark, dir)
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"dim", $"mean_val"))),
        x => x("mean_val")).as("c"))
    val dists = Tables.embeddings(spark, dir)
      .join(broadcast(cent), "label")
      .select($"vec_id", $"label",
        sqrt(dot(zip_with($"embedding", $"c", (x, m) => x.cast("double") - m),
          zip_with($"embedding", $"c", (x, m) => x.cast("double") - m)))
          .as("dist"))
      .select($"vec_id", $"label",
        floor($"dist" * 1e6 + lit(0.5)).cast("long").as("u"))
    val cached = graft.CacheGuard.barrier(dists)
    val stats = cached.groupBy($"label").agg(
      count(lit(1)).as("n"),
      sum($"u".cast("decimal(28,0)")).as("su"),
      sum(($"u" * $"u").cast("decimal(38,0)")).as("su2"))
    cached.join(broadcast(stats), "label")
      .select($"vec_id", $"label",
        (Quant.r4($"u".cast("double") / 1e6) + lit(0.0)).as("dist"),
        (Quant.r4(($"n".cast("decimal(38,0)") * $"u" - $"su").cast("double") /
          sqrt(($"n".cast("decimal(38,0)") * $"su2" - $"su" * $"su")
            .cast("double"))) + lit(0.0)).as("z"))
      .orderBy($"z".desc, $"vec_id")
      .limit(topN)
  }

  /** Matryoshka truncation dims for [[matryoshkaAudit]] (half of the
    * stored 64), shared with the q136 oracle and spec. */
  val mrlDims = 32

  /** MATRYOSHKA truncation audit — the "how many dimensions do we
    * actually need" experiment behind MRL-style serving (Kusupati et
    * al. 2022): rank the corpus against each query by full-dimension
    * cosine AND by cosine over the first `dims` coordinates (truncation
    * + renormalization — renormalization is implicit in cosine), then
    * report per query how much of the true top-k the truncated index
    * retains (overlap@k and whether rank-1 agrees). This is the audit a
    * team runs before halving its vector-serving footprint.
    *
    * Scale shape: ONE corpus scan — both scores are computed per row and
    * feed TWO bounded [[graft.functions.TopKAgg]] buffers inside the SAME
    * partial aggregation, so the q_id exchange carries
    * O(partitions × queries × 2k) buffer rows and the corpus is read
    * once, never cached, never windowed (q42's contract, doubled).
    * Candidates unscorable in EITHER space (zero-norm full or truncated
    * prefix) are excluded from both rankings so the two lists rank the
    * same population — the q42 NaN policy, oracle-mirrored. */
  def matryoshkaAudit(spark: SparkSession, dir: String,
                      nQueries: Int = 5, k: Int = 10,
                      dims: Int = mrlDims): DataFrame = {
    import spark.implicits._
    import graft.functions.TopK.topK
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("q"))
    def ids(hits: org.apache.spark.sql.Column) =
      transform(hits, h => h.getField("vec_id"))
    emb.filter($"vec_id" >= nQueries)
      .crossJoin(broadcast(queries))
      .select($"q_id", $"vec_id",
        Quant.r4(cosine($"embedding", $"q")).as("cos_full"),
        Quant.r4(cosine(slice($"embedding", 1, dims), slice($"q", 1, dims)))
          .as("cos_trunc"))
      .filter(!isnan($"cos_full") && !isnan($"cos_trunc"))
      .groupBy($"q_id")
      .agg(
        topK(k)($"cos_full", $"vec_id").as("hf"),
        topK(k)($"cos_trunc", $"vec_id").as("ht"))
      .select($"q_id",
        size(array_intersect(ids($"hf"), ids($"ht"))).cast("long")
          .as("n_overlap"),
        (element_at(ids($"hf"), 1) === element_at(ids($"ht"), 1))
          .as("top1_agree"))
      .withColumn("overlap_frac",
        Quant.r4($"n_overlap".cast("double") / k.toDouble))
      .orderBy($"q_id")
  }

  /** Cluster-quality audit for the q69-trained codebook — the "should I
    * trust these clusters" report read BEFORE the codebook drives
    * retrieval (q35/q163) or budget allocation (q164): per cluster, a
    * centroid-silhouette on squared Euclidean distance. For each vector,
    * `a` = distance to its ASSIGNED centroid (the production argmax-dot
    * assignment, q82 verbatim), `b` = distance to the nearest OTHER
    * centroid, s = (b−a)/max(a,b) ∈ [−1, 1]; the report rolls up vector
    * count, mean s, and how many vectors sit strictly closer to a
    * foreign centroid (`n_misassigned` — inner-product assignment and
    * L2 proximity disagree exactly where cluster radii are uneven,
    * which is what this audit exists to surface).
    *
    * Distances decompose as ‖e‖² − 2·e·c + ‖c‖², so the per-vector work
    * is the SAME native dot products the assignment already computes
    * (one extra self-dot), against the broadcast codebook — map-side
    * only, no corpus×nlist explode; the rollup is one cluster-keyed
    * aggregation to O(nlist) rows. Per-vector s is quantized to integer
    * micro-units AFTER an 8-decimal round (the q146 ln discipline
    * applied to the division), so the cluster means are integer sums
    * divided once — the oracle's extra join topology cannot perturb
    * them. */
  def clusterSilhouette(spark: SparkSession, dir: String,
                        nlist: Int = 16, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val cents = trainedCentroids(spark, dir, nlist, iters)
    require(cents.size == nlist,
      s"trained codebook has ${cents.size} lists, expected $nlist")
    val centsCol = typedlit(cents)
    // ‖c‖² per centroid, summed dim-order like the oracle's list_sum
    val ccCol = typedlit(cents.map(c => c.foldLeft(0.0)((s, x) => s + x * x)))
    val dots = transform(sequence(lit(1), lit(nlist)),
      c => graft.functions.VectorFunctions.dot(
        $"embedding", element_at(centsCol, c)))
    Tables.embeddings(spark, dir)
      .withColumn("dots", dots)
      .withColumn("ee", graft.functions.VectorFunctions.dot(
        $"embedding", $"embedding"))
      .withColumn("own", array_position($"dots", array_max($"dots"))
        .cast("int"))
      .withColumn("dists", transform(sequence(lit(1), lit(nlist)),
        c => $"ee" - lit(2.0) * element_at($"dots", c) + element_at(ccCol, c)))
      .withColumn("a", element_at($"dists", $"own"))
      .withColumn("b", array_min(transform(sequence(lit(1), lit(nlist)),
        c => when(c === $"own", lit(Double.PositiveInfinity))
          .otherwise(element_at($"dists", c)))))
      .select($"own".cast("long").as("cluster"),
        floor(round(when(greatest($"a", $"b") <= 0, 0.0) // round-ok: ulp-snap on ln before quantize (round-7 discipline)
          .otherwise(($"b" - $"a") / greatest($"a", $"b")), 8) * 1e6
          + lit(0.5)).cast("long").as("u"),
        when($"b" < $"a", 1L).otherwise(0L).as("neg"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"neg").as("n_misassigned"),
        floor(sum($"u").cast("double") / count(lit(1)).cast("double")
          + lit(0.5)).cast("long").as("mean_sil_u6"))
      .orderBy($"cluster")
  }

  /** Cluster↔label agreement audit — the SEMANTIC complement of q170's
    * geometric silhouette: per trained cluster, the majority language,
    * its purity, and the label entropy. High-entropy clusters mix
    * languages (the codebook split on topic, not language — usually
    * fine); a low-purity cluster that q164 then up-weights is how a
    * budget plan silently skews a language mix, which is why this
    * report precedes cluster-balanced allocation.
    *
    * Scale shape: the corpus pays the q82 map-side assignment plus ONE
    * doc-keyed equi-join to the language column (the q164 join; zip at
    * scale under co-partitioning) and collapses straight to the
    * (cluster, lang) contingency table — O(nlist × langs) rows.
    * Everything after (majority election via a window, entropy) runs
    * on that tiny relation only. Entropy terms are per-CELL quantized
    * (round-8 ln then micro-unit floor, the q146 discipline) and
    * summed as integers, so the cluster entropy is exact given the
    * cell counts. */
  def clusterPurity(spark: SparkSession, dir: String,
                    nlist: Int = 16, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val cents = trainedCentroids(spark, dir, nlist, iters)
    require(cents.size == nlist,
      s"trained codebook has ${cents.size} lists, expected $nlist")
    val centsCol = typedlit(cents)
    val scores = transform(sequence(lit(1), lit(nlist)),
      c => graft.functions.VectorFunctions.dot(
        $"embedding", element_at(centsCol, c)))
    val assigned = Tables.embeddings(spark, dir)
      .withColumn("scores", scores)
      .select($"vec_id",
        array_position($"scores", array_max($"scores"))
          .cast("long").as("cluster"))
    val cells = assigned
      .join(Tables.documents(spark, dir)
        .select($"doc_id", $"lang"), $"vec_id" === $"doc_id")
      .groupBy($"cluster", $"lang").agg(count(lit(1)).as("n_cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster").orderBy($"n_cell".desc, $"lang".asc)
    cells
      .withColumn("n", sum($"n_cell").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster")))
      .withColumn("rk", row_number().over(w))
      // -p·ln(p) per cell in micro-nats, integer thereafter
      .withColumn("h_u6", floor(round( // round-ok: ulp-snap on ln before quantize (round-7 discipline)
        -($"n_cell".cast("double") / $"n".cast("double")) *
          log($"n_cell".cast("double") / $"n".cast("double")), 8) * 1e6
        + lit(0.5)).cast("long"))
      .groupBy($"cluster")
      .agg(
        max($"n").as("n_vecs"),
        max(when($"rk" === 1, $"lang")).as("top_lang"),
        max(when($"rk" === 1, $"n_cell")).as("n_top"),
        sum($"h_u6").as("entropy_u6"))
      .select($"cluster", $"n_vecs", $"top_lang", $"n_top",
        floor($"n_top".cast("double") / $"n_vecs".cast("double") * 1e4
          + lit(0.5)).cast("long").as("purity_u4"),
        $"entropy_u6")
      .orderBy($"cluster")
  }

  /** IVF + PQ composed serving (q179) — the FAISS `IVFPQ` index shape,
    * and the form a billion-vector deployment actually runs: the coarse
    * quantizer (IVF) prunes the corpus to `nprobe` of `nlist` inverted
    * lists, and the fine quantizer (PQ codes + the query's ADC lookup
    * table) scores only the surviving candidates by m table lookups
    * each. q35/q163 measure the pruning alone, q85/q86 the compression
    * alone; this is their composition — the one that makes 100 TB of
    * vectors servable from RAM (codes are m bytes/vector, the scan
    * touches nprobe/nlist of them).
    *
    * Exactness: the coarse side is ALL-INTEGER — centroids are the
    * first-`nlist` vectors on the e3 grid, assignment and the query's
    * list ranking compare exact BIGINT dot products (ties to the lowest
    * list id), so the probe set can never drift between engines. The
    * fine side reuses q86's ADC contract verbatim (exact-int divisions,
    * subspace-ordered LUT fold, r4 floor at the edge).
    *
    * Scale shape: one corpus pass computes assignments against the
    * BROADCAST coarse codebook (O(nlist × dim) in the task closure);
    * the probe set is a ≤nprobe-row relation joined broadcast, so the
    * ADC join + fold runs on the PROBED fraction only; top-k is
    * TakeOrdered after a corpus-free O(probed) aggregation. The
    * per-row transform lambdas are bounded nlist × dim work against
    * broadcast constants — the q163 cost class, documented there. */
  def ivfPqTopK(spark: SparkSession, dir: String,
                queryId: Long = 0L, topK: Int = 10,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, k: Int = 16): DataFrame = {
    import spark.implicits._
    // repartition-after-scan: the coarse-assignment idots lambda is
    // map-side HOF work — see pqSubvectors (r16)
    val eq = graft.CacheGuard.barrier(
      Tables.embeddings(spark, dir).repartition($"vec_id")
        .select($"vec_id",
          transform($"embedding",
            x => floor(x.cast("double") * 1000 + lit(0.5)).cast("long"))
          .as("e")))
    val cents: Seq[Seq[Long]] = eq.filter($"vec_id" < nlist)
      .orderBy($"vec_id").select($"e").as[Seq[Long]].collect().toSeq  // collect-ok: O(codebook) FAISS-style driver loop, documented
    require(cents.size == nlist, s"coarse codebook needs $nlist seeds")
    val centsCol = typedlit(cents)
    // exact integer dots against every coarse centroid; first max =
    // lowest list id on ties (array_position semantics)
    val idots = transform(sequence(lit(1), lit(nlist)), c =>
      aggregate(zip_with($"e", element_at(centsCol, c), (x, y) => x * y),
        lit(0L), (a, x) => a + x))
    val assigned = eq
      .withColumn("idots", idots)
      .select($"vec_id",
        array_position($"idots", array_max($"idots"))
          .cast("long").as("list_id"),
        $"idots")
    // the query's nprobe best lists: rank of list c = 1 + #lists strictly
    // better under (idot desc, c asc) — integer array arithmetic, no sort
    val probes = assigned.filter($"vec_id" === queryId)
      .select(explode(filter(sequence(lit(1), lit(nlist)), c =>
        size(filter(sequence(lit(1), lit(nlist)), i =>
          element_at($"idots", i) > element_at($"idots", c) ||
            (element_at($"idots", i) === element_at($"idots", c) && i < c)))
          < nprobe)).as("c0"))
      .select($"c0".cast("long").as("list_id"))
    // fine side: q86's trained PQ codes + the query's LUT, restricted to
    // the probed lists BEFORE any scoring work: the subvector relation
    // inner-joins the probed-vector set first (one keyed shuffle; at
    // nprobe/nlist = 1/4 the PQ scoring then touches a quarter of the
    // corpus), and list_id rides the encode groupBy KEY so no join
    // follows the aggregate — the post-agg join form re-created the
    // pqCodebook broadcast misestimate here (r16 decomposition). cb1 is
    // barriered: it is O(m·k) rows but its PLAN is a corpus-scale
    // training pass, and both the encode scoring and the LUT consume it.
    val cached = pqSubvectors(spark, dir, m)
    val cb1 = graft.CacheGuard.barrier(pqCodebook(cached, k))
    val probedVecs = assigned.select($"vec_id", $"list_id")
      .join(broadcast(probes), "list_id")
    val codes = pqScored(cached.join(probedVecs, "vec_id"), cb1)
      .groupBy($"vec_id", $"list_id", $"sub")
      .agg(min_by($"c", struct($"score", $"c")).as("code"))
    val qsv = cached.filter($"vec_id" === queryId)
      .select($"sub", $"se".as("qe"),
        aggregate(transform($"se", x => x * x), lit(0L), (a, x) => a + x)
          .as("qq"))
    val lut = cb1.join(qsv, "sub")
      .withColumn("qdot", aggregate(zip_with($"qe", $"s", (x, y) => x * y),
        lit(0L), (a, x) => a + x))
      .withColumn("ss", aggregate(transform($"s", x => x * x),
        lit(0L), (a, x) => a + x))
      .select($"sub".as("lsub"), $"c",
        ($"qq".cast("double") +
          ($"ss".cast("double") / ($"n" * $"n").cast("double")
            - (lit(2L) * $"qdot").cast("double") / $"n".cast("double")))
          .as("d"))
    codes.join(broadcast(lut),
        codes("sub") === lut("lsub") && codes("code") === lut("c"))
      .groupBy($"vec_id", $"list_id")
      .agg(aggregate(transform(array_sort(collect_list(struct($"lsub", $"d"))),
          x => x("d")), lit(0.0), (a, x) => a + x).as("g"))
      .filter($"vec_id" =!= queryId)
      .select($"vec_id", $"list_id",
        (Quant.r4($"g" / lit(1000000.0)) + lit(0.0)).as("adc_dist2"))
      .orderBy($"adc_dist2", $"vec_id")
      .limit(topK)
  }

  /** Contrastive TRIPLET mining — the (anchor, positive, negative)
    * training rows an embedding model's triplet/InfoNCE loss consumes,
    * composed CROSS-MODALLY from two machines the engine already
    * proves out: positives are LEXICAL near-dup partners (the q55/q97
    * minhash graph at τ=0.2, endpoints mapped out of the mirrored
    * corpus and deterministically elected min-partner), negatives are
    * EMBEDDING-SPACE hard candidates (the q53 capped sign-LSH bucket
    * join, top-1 cosine among candidates that are NOT lexical
    * near-dups of the anchor). The cross-modal split is the point: a
    * lexical positive the embedding already scores above the mined
    * negative is an easy triplet; `hard = neg_cos ≥ pos_cos` flags the
    * rows that will actually move the model.
    *
    * Scale shape: the positive side is the banded pair chain (never a
    * corpus self-join); the negative side is bucket-local with hot
    * buckets capped and per-anchor top-1 pre-reduced through the
    * bounded TopK aggregate; the near-dup exclusion is one LEFT ANTI
    * join against the O(pairs) relation; the final cosine lookups are
    * two keyed joins against the embedding table. Margins are exact
    * integer 1e-4 units derived from the r4-quantized cosines.
    *
    * ADAPTIVE LSH sizing: with fixed planes, growing the corpus pushes
    * every bucket past the hot-block cap and the candidate set — and
    * therefore the whole output — silently collapses to EMPTY (measured
    * at the sf1 probe with q53's fixed 4 bits: 50k vectors / 16 buckets
    * ≈ 3k per bucket, all capped). The plane count is therefore derived
    * from the corpus: the smallest b with 100·2^b ≥ n (target ~100
    * vectors per bucket, capped at [[triplesMaxBits]] planes), an exact
    * integer rule the oracle replays with a scalar subquery — the
    * count() behind it is the same O(1)-row driver action the HITS
    * normalizers use. Effective buckets are the low-b bits of the
    * full-width bucket (plane j depends only on j, so truncation ≡
    * computing with b planes). */
  val triplesMaxBits = 12

  def contrastiveTriplets(spark: SparkSession, dir: String,
                          maxBlock: Int = 500): DataFrame = {
    import spark.implicits._
    def u4c(c: org.apache.spark.sql.Column) =
      floor(c * 1e4 + lit(0.5)).cast("long")
    val nVec = Tables.embeddings(spark, dir).count()
    val bits = (0 to triplesMaxBits)
      .find(b => (1L << b) * 100 >= nVec).getOrElse(triplesMaxBits)
    val pairs = graft.CacheGuard.barrier(
      DedupOps.minHashLshPairsOracled(spark, dir, threshold = 0.2)
        .select(($"a" % 100000).as("x"), ($"b" % 100000).as("y"))
        .filter($"x" =!= $"y")
        .select(least($"x", $"y").as("pa"), greatest($"x", $"y").as("pb"))
        .distinct())
    val pos = pairs.groupBy($"pa".as("anchor_id")).agg(min($"pb").as("pos_id"))
    val sym = pairs.select($"pa", $"pb")
      .unionByName(pairs.select($"pb".as("pa"), $"pa".as("pb")))
    val bucketed = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        signLshBucket($"embedding", bits).as("bucket"))
    val cached = graft.CacheGuard.barrier(bucketed)
    val embC = Guards.capHotKeys(cached, "bucket", maxBlock)
    val cand = embC.as("x").join(embC.as("y"),
        $"x.bucket" === $"y.bucket" && $"x.vec_id" =!= $"y.vec_id")
      .select($"x.vec_id".as("anchor_id"), $"y.vec_id".as("cand_id"),
        Quant.r4(cosine($"x.embedding", $"y.embedding")).as("cand_cos"))
      .filter(!isnan($"cand_cos"))
    val candNoPos = cand.join(sym,
      cand("anchor_id") === sym("pa") && cand("cand_id") === sym("pb"),
      "left_anti")
    val neg = candNoPos.join(pos, "anchor_id")
      .groupBy($"anchor_id", $"pos_id")
      .agg(graft.functions.TopK.topK(1)($"cand_cos", $"cand_id").as("hits"))
      .select($"anchor_id", $"pos_id", explode($"hits").as("h"))
      .select($"anchor_id", $"pos_id", $"h.vec_id".as("neg_id"),
        $"h.cos_sim".as("neg_cos"))
    val emb = Tables.embeddings(spark, dir)
    neg
      .join(emb.select($"vec_id".as("anchor_id"), $"embedding".as("ea")),
        "anchor_id")
      .join(emb.select($"vec_id".as("pos_id"), $"embedding".as("ep")),
        "pos_id")
      .select($"anchor_id", $"pos_id", $"neg_id",
        Quant.r4(cosine($"ea", $"ep")).as("pos_cos"), $"neg_cos")
      .filter(!isnan($"pos_cos"))
      .select($"anchor_id", $"pos_id", $"neg_id", $"pos_cos", $"neg_cos",
        (u4c($"pos_cos") - u4c($"neg_cos")).as("margin_u4"),
        ($"neg_cos" >= $"pos_cos").as("hard"))
      .orderBy($"anchor_id")
  }

  /** Prototype/outlier drop percentages audited by [[prototypePrune]],
    * shared with the q280 oracle. */
  val protoPct = 10
  val outlierPct = 5

  /** D4-STYLE PROTOTYPE PRUNING (q280) — the data-selection step of
    * Tirumala et al. 2023 (D4) that SemDeDup (q82) does not cover:
    * after clustering, the examples CLOSEST to their cluster centroid
    * are "prototypes" (semantically redundant — the cluster keeps their
    * information without them) and the FARTHEST are outliers (often
    * noise); both tails are dropped, keeping the informative middle.
    * q82 prunes pairwise near-duplicates; this prunes by position in the
    * learned density, which catches redundancy no pairwise threshold
    * sees (a thousand mutually-0.8-similar boilerplate docs survive q82
    * but are one prototype pile here).
    *
    * Mechanics: the q82 corpus (embeddings ∪ +100000 copies — designed
    * redundancy) assigns to the q69 trained codebook by argmax dot
    * (first max = lowest list, the shared tie rule); cosine to the OWN
    * centroid lands on the r4 grid; rank within cluster descends by
    * (cos, vec_id) — quantize-then-rank, so both engines order
    * identically; drop rules are integer-exact:
    * `rank·100 ≤ n·protoPct` (prototype head) and
    * `(n−rank+1)·100 ≤ n·outlierPct` (outlier tail).
    *
    * Scale shape: assignment + cosine are map-side expressions against
    * the broadcast nlist×dim codebook (one corpus scan, no shuffle);
    * the rank is a PARTITIONED window keyed by list_id — at corpus
    * scale nlist grows ∝ N (D4 uses ~N/10k clusters) so per-cluster
    * sort mass stays bounded, the same argument as [[semanticDedup]]'s
    * join. No corpus-global window, no self-join at all — this is the
    * CHEAPEST pruning pass in the dedup kit. */
  def prototypePrune(spark: SparkSession, dir: String,
                     nlist: Int = 16, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val cents = trainedCentroids(spark, dir, nlist, iters)
    require(cents.size == nlist,
      s"trained codebook has ${cents.size} lists, expected $nlist")
    val centsCol = typedlit(cents)
    val base = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val corpus = base.unionByName(
      base.withColumn("vec_id", $"vec_id" + 100000L))
    val scored = corpus
      .withColumn("scores", transform(sequence(lit(1), lit(nlist)),
        c => dot($"embedding", element_at(centsCol, c))))
      .withColumn("list_id", array_position($"scores", array_max($"scores")))
      .withColumn("cen", element_at(centsCol, $"list_id".cast("int")))
      .select($"vec_id", $"list_id",
        Quant.r4(element_at($"scores", $"list_id".cast("int")) /
          (norm($"embedding") * norm($"cen"))).as("cos_c"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy($"list_id")
    val ranked = scored
      .withColumn("rnk",
        row_number().over(byCluster.orderBy($"cos_c".desc, $"vec_id")))
      .withColumn("cluster_n", count(lit(1)).over(byCluster))
    ranked
      .select($"vec_id", $"list_id", $"cos_c", $"rnk".cast("long").as("rnk"),
        $"cluster_n",
        ($"rnk" * 100 <= $"cluster_n" * protoPct).as("drop_proto"),
        (($"cluster_n" - $"rnk" + 1) * 100 <= $"cluster_n" * outlierPct)
          .as("drop_outlier"))
      .withColumn("is_kept", !$"drop_proto" && !$"drop_outlier")
      .orderBy($"vec_id")
  }

  /** RECIPROCAL NEAREST NEIGHBORS (q286) — the high-precision pair rule
    * of bitext/alignment mining (and of RNN re-ranking in retrieval):
    * a pair qualifies only when each vector is the OTHER's single best
    * neighbor. Mutuality is a much stronger signal than a cosine
    * threshold — a hub vector is many vectors' top-1 but has only one
    * top-1 of its own, so hubs produce at most one RNN pair instead of a
    * star of false positives (the failure mode q176's margin rule also
    * exists to suppress; RNN is its simpler, stricter sibling).
    *
    * Candidates come from sign-LSH buckets over the RAW embedding table
    * (no mirror doubling — mutual-best of an exact twin is trivially
    * true and would drown the organic pairs); oversized buckets are
    * dropped WHOLE ([[Guards.capHotKeys]], the q176 discipline, HAVING-
    * replayable). Per vector: argmax quantized cosine, ties to the
    * smallest id (struct-ordered max, no window); mutual pairs survive.
    *
    * Scale shape: one corpus scan to bucket + norm (cache barrier),
    * one capped within-bucket self-join, one keyed argmax (partial-
    * aggregable), one self-join of the O(vectors) best table. More
    * planes at larger corpora keep buckets near-constant — the q23
    * dial. */
  def reciprocalNearestNeighbors(spark: SparkSession, dir: String,
                                 bits: Int = 4,
                                 maxBlock: Int = 500): DataFrame = {
    import spark.implicits._
    val cached = graft.CacheGuard.barrier(
      Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding",
          signLshBucket($"embedding", bits).as("bucket"),
          norm($"embedding").as("nrm")))
    val emb = Guards.capHotKeys(cached, "bucket", maxBlock)
    val prs = emb.as("x").join(emb.as("y"),
        $"x.bucket" === $"y.bucket" && $"x.vec_id" =!= $"y.vec_id")
      .select($"x.vec_id".as("v"), $"y.vec_id".as("n"),
        Quant.r4(dot($"x.embedding", $"y.embedding") /
          ($"x.nrm" * $"y.nrm")).as("cs"))
    val cachedPrs = graft.CacheGuard.barrier(prs)
    val cnt = cachedPrs.groupBy($"v").agg(count(lit(1)).as("n_cands"))
    val best = cachedPrs
      .groupBy($"v")
      .agg(max(struct($"cs", (-$"n").as("nn"))).as("m"))
      .select($"v", (-$"m.nn").as("best_n"), $"m.cs".as("best_cos"))
    best.as("p").join(best.as("q"),
        $"p.best_n" === $"q.v" && $"q.best_n" === $"p.v" &&
          $"p.v" < $"q.v")
      .select($"p.v".as("a"), $"q.v".as("b"),
        $"p.best_cos".as("cos_sim"))
      .join(cnt.select($"v".as("a"), $"n_cands".as("a_cands")), "a")
      .join(cnt.select($"v".as("b"), $"n_cands".as("b_cands")), "b")
      .select($"a", $"b", $"cos_sim", $"a_cands", $"b_cands")
      .orderBy($"a")
  }
}
