package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables
import graft.functions.VectorFunctions.{dot, norm, signLshBucket}
import graft.operators.Quant

/** A vector on the semantic admission stream: `sim32` is the 32-plane
  * sign vector ([[graft.functions.VectorExprs.lshCompute]] — a SimHash
  * of the embedding, computed relationally BEFORE the stateful stage so
  * the stream and the replay band the identical bits), arrival order =
  * vec_id. */
case class VecDoc(vec_id: Long, embedding: Seq[Float], sim32: Long)

/** One banded row of a [[VecDoc]]: `bk` = `shift:byte` over the sign
  * vector (the q302 band-key convention on the semantic SimHash). */
case class SemBandRow(bk: String, vec_id: Long, embedding: Seq[Float])

/** A band group's registered history: the first
  * [[SemanticGate.groupCap]] vectors, in vec_id order, that carried
  * this sign-vector slice. */
case class SemGateState(entries: Seq[(Long, Seq[Float])])

/** Per-(vector, arm) verdict: registered earlier vectors at quantized
  * cosine ≥ τ. Emitted for every (vector, arm), empty `colliders`
  * included — the batch-local combine needs the row. */
case class SemVerdict(vec_id: Long, bk: String, colliders: Seq[Long])

/** STREAMING SEMANTIC (embedding-cosine) GATE (q308) — the fourth
  * representation level of the admission-control kit: the text gates act
  * on exact hashes (q94), lexical MinHash (q173) and n-gram sets (q299),
  * the media gate on perceptual hashes (q305/q307) — none of them sees a
  * PARAPHRASE (same meaning, disjoint surface forms). The reference's
  * only dedup is the exact keep-first of
  * `parser_media_articles.py:83-84`; this is that admission rule at the
  * semantic level. The gate admits an arriving vector iff no
  * previously-seen vector in any of its sign-LSH band groups sits at
  * r4-QUANTIZED cosine ≥ τ — SemDeDup (q82) turned into admission
  * control, the way q173 is batch LSH dedup turned online.
  *
  * Banding (round-15, measurement-driven): the 32-plane sign vector is
  * a SimHash of the embedding, banded into 4 DISJOINT 8-bit arms — the
  * q302 geometry on semantic bits. A first cut used one 16-plane bucket
  * (single-probe); the spec's seeded-twin recall measurement put its
  * near-dup recall at 20.6% (cos ≥ 0.95 dim-0 perturbations — any one
  * flipped plane kills a single-probe match), and the offline arm sweep
  * measured the 4×8 banding at **98.9%** on the same twins (max band
  * block 52 of 4000 at sf0.1 — blocks stay small) for 4 rows/vector of
  * fan-out. Exact duplicates agree on every plane, so their recall is
  * guaranteed by ANY arm. Each band group's `GroupState` holds the
  * registered history (first [[groupCap]] arrivals, vec_id order) —
  * SEEN-based registration, so admission depends only on arrival order
  * and the gate replays relationally with no recursion (the q173
  * argument). Verification is the r4-quantized cosine ≥ τ in BOTH the
  * fold and the replay ([[cosR4]] replicates the `VecDotExpr` left-fold
  * arithmetic bit-for-bit), so stream ≡ replay is exact.
  *
  * The declared q308 IS the replay: band → rank ≤ cap per band key →
  * candidate join (registered × later arrivals) → distinct pairs →
  * quantized-cosine verify → per-vector rollup.
  *
  * Scale shape: the stream shuffles each micro-batch once on the band
  * keys (4 rows per vector); state is O(band groups × cap × dim)
  * floats. The replay's rank window partitions by band key —
  * block-sized, never the corpus — and the candidate join is ≤
  * arms · cap · corpus. */
object SemanticGate {

  /** Planes in the sign vector (4 disjoint 8-bit arms). */
  val bits = 32
  val bandBits = 8
  val bandShifts: Seq[Int] = Seq(0, 8, 16, 24)
  val groupCap = 64

  /** Quantized-cosine admission threshold (τ = 0.95, the
    * embeddingNearDupPairs default). */
  val tau = 0.95

  /** The gate's corpus: embeddings doubled with an id-shifted exact copy
    * (the q54 convention — random vectors have no natural near-dups at
    * gate SFs, so every base vector's copy arrives after it and must be
    * suppressed at cosine 1.0). */
  def vecDocs(spark: SparkSession, dir: String): Dataset[VecDoc] = {
    import spark.implicits._
    val base = Tables.embeddings(spark, dir)
    base.unionByName(base.withColumn("vec_id", $"vec_id" + 100000L))
      .select($"vec_id", $"embedding",
        signLshBucket($"embedding", bits).as("sim32"))
      .as[VecDoc]
  }

  /** One band key per arm (the q302 key law, shared by the stream-side
    * flatMap and the spec's replay). */
  def bandKeysOf(sim32: Long): Seq[String] =
    bandShifts.map(sh => s"$sh:${(sim32 >> sh) & ((1L << bandBits) - 1)}")

  /** r4-quantized cosine with the exact `VecDotExpr`/`norm` arithmetic
    * (left fold in element order, float→double per element, norms as
    * sqrt of the self-dot, floor(x·1e4 + 0.5)/1e4) — shared by the
    * stream fold so it is bit-identical to the declared replay's
    * `Quant.r4(dot/(norm·norm))`. */
  def cosR4(a: Seq[Float], b: Seq[Float]): Double = {
    require(a.length == b.length,
      s"vector length mismatch: ${a.length} vs ${b.length}")
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dab += x * y; i += 1
    }
    i = 0
    while (i < a.length) { val x = a(i).toDouble; daa += x * x; i += 1 }
    i = 0
    while (i < b.length) { val y = b(i).toDouble; dbb += y * y; i += 1 }
    math.floor(dab / (math.sqrt(daa) * math.sqrt(dbb)) * 1e4 + 0.5) / 1e4
  }

  /** One band group's fold step (stream + spec-shared): check each
    * arrival against the registered history, then register up to the
    * cap. */
  def runFold(docs: Seq[(Long, Seq[Float])], state: Seq[(Long, Seq[Float])],
              bk: String, cap: Int = groupCap)
      : (Seq[SemVerdict], Seq[(Long, Seq[Float])]) = {
    var entries = state
    val out = Seq.newBuilder[SemVerdict]
    docs.sortBy(_._1).foreach { case (id, emb) =>
      val colliders = entries.collect {
        case (eid, e) if cosR4(e, emb) >= tau => eid
      }
      out += SemVerdict(id, bk, colliders)
      if (entries.size < cap) entries = entries :+ ((id, emb))
    }
    (out.result(), entries)
  }

  /** Stage 1 (stateful): band each arrival, fold each band group. All of
    * a vector's verdicts land in its own micro-batch, so the cross-arm
    * combine is batch-local ([[admittedOfBatch]]). */
  def gateStream(docs: Dataset[VecDoc]): Dataset[SemVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(d => bandKeysOf(d.sim32).map(bk =>
        SemBandRow(bk, d.vec_id, d.embedding)))
      .groupByKey(_.bk)
      .flatMapGroupsWithState[SemGateState, SemVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bk: String, it: Iterator[SemBandRow],
         state: GroupState[SemGateState]) =>
          val (out, entries) = runFold(
            it.map(r => (r.vec_id, r.embedding)).toSeq,
            state.getOption.map(_.entries).getOrElse(Seq.empty), bk)
          state.update(SemGateState(entries))
          out.iterator
      }(stateEncoder, implicitly[Encoder[SemVerdict]])
  }

  /** The band history's state encoder (see [[StateEncoders]]). */
  private lazy val stateEncoder: Encoder[SemGateState] =
    StateEncoders.bound[SemGateState]

  /** Cross-arm combine over ONE micro-batch's stage-1 output: distinct
    * colliders across arms → admitted iff none. Run inside
    * `foreachBatch` (or on the memory-sink table in the spec). */
  def admittedOfBatch(verdicts: DataFrame): DataFrame = {
    val spark = verdicts.sparkSession
    import spark.implicits._
    verdicts
      .select($"vec_id", explode_outer($"colliders").as("collider"))
      .groupBy($"vec_id")
      .agg(
        countDistinct($"collider").as("n_prior_semdups"),
        coalesce(min($"collider"), lit(-1L)).as("first_collider"))
      .select($"vec_id",
        ($"n_prior_semdups" === 0).as("admitted"),
        $"n_prior_semdups", $"first_collider")
  }

  /** Declared q308: the EXACT relational replay — per vector, the
    * admission verdict, the number of earlier banded semantic
    * duplicates, and the earliest one. */
  def replayBatch(spark: SparkSession, dir: String): DataFrame =
    replayOver(vecDocs(spark, dir).toDF())

  /** [[replayBatch]]'s core over an arbitrary `(vec_id, embedding,
    * sim32)` relation — the seam [[MultiModalCurate]] replays its
    * semantic stage through. */
  def replayOver(vecsIn: DataFrame): DataFrame = {
    val spark = vecsIn.sparkSession
    import spark.implicits._
    // norms once per vector BEFORE the join (the q54 discipline); the
    // base relation feeds the banding (both join sides) and the final
    // verdict join-back — barrier (the r15 gate-replay policy)
    val b = graft.CacheGuard.barrier(vecsIn
      .withColumn("nrm", norm($"embedding")))
    val banded = b
      .withColumn("sh", explode(array(bandShifts.map(lit): _*)))
      .select($"vec_id", $"embedding", $"nrm",
        concat($"sh", lit(":"),
          expr("shiftright(sim32, CAST(sh AS INT))")
            .bitwiseAND(lit((1L << bandBits) - 1))).as("bk"))
    val registered = banded
      .withColumn("rk", row_number().over(
        Window.partitionBy($"bk").orderBy($"vec_id")))
      .filter($"rk" <= groupCap)
    val hits = registered.as("x").join(banded.as("y"),
        $"x.bk" === $"y.bk" && $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("a"), $"y.vec_id".as("b"),
        $"x.embedding".as("ea"), $"y.embedding".as("eb"),
        $"x.nrm".as("na"), $"y.nrm".as("nb"))
      .dropDuplicates("a", "b")
      .filter(Quant.r4(dot($"ea", $"eb") / ($"na" * $"nb")) >= tau)
      .groupBy($"b")
      .agg(count(lit(1)).as("n_prior_semdups"),
        min($"a").as("first_collider"))
    b.join(hits, b("vec_id") === hits("b"), "left")
      .select(b("vec_id"),
        $"n_prior_semdups".isNull.as("admitted"),
        coalesce($"n_prior_semdups", lit(0L)).as("n_prior_semdups"),
        coalesce($"first_collider", lit(-1L)).as("first_collider"))
      .orderBy($"vec_id")
  }
}
