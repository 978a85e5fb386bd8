package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Multimodal

/** A fingerprinted media row on the admission stream: `phash` is the
  * q301 perceptual fingerprint (dHash for images, energy-sign for
  * audio — [[Multimodal.perceptualHashes]]), arrival order = media_id. */
case class MediaDoc(media_id: Long, kind: String, phash: Long)

/** One banded row of a [[MediaDoc]]: `bk` = `kind:shift:byte` (the q302
  * band-key convention — the 8-bit hash slice IS the key, so distinct
  * kinds and distinct arms can never share a group). */
case class MediaBandRow(bk: String, media_id: Long, kind: String, phash: Long)

/** A band group's registered history: the first [[MediaGate.groupCap]]
  * media rows, in media_id order, that carried this band key. */
case class MediaGateState(entries: Seq[MediaDoc])

/** Per-(media, band-arm) verdict: registered EARLIER media in this one
  * group within Hamming ≤ [[Multimodal.phashHammingMax]] of the arrival.
  * Emitted for every (media, arm), empty `colliders` included — the
  * batch-local combine needs the row. */
case class MediaVerdict(media_id: Long, bk: String, colliders: Seq[Long])

/** STREAMING MEDIA-PERCEPTUAL GATE (q305) — the r14 verdict gap #2:
  * text ingestion has exact (q94), near-dup (q173), quota (q271) and
  * contamination (q299) admission gates, but media had NO streaming
  * admission path at all — a re-crawled image (recompressed, brightness
  * shifted) or re-encoded clip sails past any byte-level gate. The
  * reference's image pipeline fetches and stores media bytes with no
  * dedup at all (`reddit_image_scraper.py:26-27,63-64`), and its only
  * admission rule is the exact-id keep-first of
  * `parser_media_articles.py:83-84` — this gate is that admission idea
  * taken to the perceptual level a live media feed needs. This is
  * the q173 GroupState shape keyed by the q302 band keys over q301
  * fingerprints: admit an arriving media row iff NO band group holds a
  * previously-seen fingerprint within Hamming ≤ 6.
  *
  * Mechanics: each arrival's fingerprint is cut into its kind's 8-bit
  * band arms ([[Multimodal.phashBandShifts]] — 7 disjoint image arms =
  * pigeonhole guarantee d ≤ 6; 4 disjoint + 3 rotated multi-probe audio
  * arms); each arm routes to a `GroupState` keyed by `kind:shift:byte`
  * holding the group's registered history (first [[groupCap]] carriers,
  * media_id order). The fold is SEEN-based, not admitted-based — every
  * arrival registers (up to the cap) whether or not it was admitted —
  * which is exactly what makes the gate relationally replayable with no
  * recursion (the q173 argument):
  *
  *   admitted(m) ⟺ ¬∃ e: e.media_id < m.media_id, e registered in some
  *                 band group of m (rank ≤ cap), popcount(e.phash ⊕
  *                 m.phash) ≤ 6.
  *
  * The declared q305 IS that replay ([[replayBatch]]): band → rank per
  * band key by media_id → candidate join (registered × later arrivals)
  * → popcount verification → per-media collider rollup. Stream ≡ replay
  * verdict-for-verdict when micro-batches arrive in media_id order,
  * across a checkpoint restart included (spec-asserted).
  *
  * Scale shape: each micro-batch shuffles once on the band keys (≤ 7
  * rows/arrival); state totals O(groups × cap) (media_id, phash) pairs
  * where groups are REAL fingerprint-slice clusters. The replay's rank
  * window partitions by band key — block-sized, never the corpus — and
  * the registered side of the candidate join is capped, so candidate
  * volume is ≤ arms · cap · corpus: linear in the corpus with a small
  * constant, never quadratic. */
object MediaGate {

  /** Registered rows per band group — the streaming twin of q302's
    * class-level block cap ([[Multimodal.phashBlockCap]] halved: gate
    * groups hold media ROWS, which repeat per perceptual class, so the
    * first `cap` carriers of a slice already cover its class
    * inventory; later carriers are still CHECKED, just not
    * registered). Mirrored exactly by the replay's rank ≤ cap. */
  val groupCap = 64

  /** The gate's corpus: every fingerprinted media row of the q301
    * relation (brightness twins arrive after their bases — media_id
    * order is the arrival contract). */
  def mediaDocs(spark: SparkSession, dir: String): Dataset[MediaDoc] = {
    import spark.implicits._
    Multimodal.perceptualHashes(spark, dir).as[MediaDoc]
  }

  /** Band geometry per kind: images carry the 7-disjoint-arm 56-bit
    * decomposition; every 32-bit fingerprint (audio AND video — the
    * q304 rule) carries the 4-disjoint + 3-multi-probe audio geometry.
    * Mirrors [[replayOver]]'s when/otherwise routing exactly. */
  def shiftsFor(kind: String): Seq[Int] =
    if (kind == "image") Multimodal.phashBandShifts("image")
    else Multimodal.phashBandShifts("audio")

  /** One band key per arm of this kind's geometry (the q302 key law,
    * shared by the stream-side flatMap and the spec's replay). */
  def bandKeysOf(kind: String, phash: Long): Seq[String] =
    shiftsFor(kind).map(sh =>
      s"$kind:$sh:${(phash >> sh) & ((1L << Multimodal.phashBandBits) - 1)}")

  private def near(a: Long, b: Long): Boolean =
    java.lang.Long.bitCount(a ^ b) <= Multimodal.phashHammingMax

  /** One band group's fold step, shared by the stream and the spec's
    * cap unit test: check each arrival (media_id order) against the
    * registered history, then register it if the group has room. */
  def runFold(docs: Seq[MediaDoc], state: Seq[MediaDoc], bk: String,
              cap: Int = groupCap): (Seq[MediaVerdict], Seq[MediaDoc]) = {
    var entries = state
    val out = Seq.newBuilder[MediaVerdict]
    docs.sortBy(_.media_id).foreach { d =>
      val colliders = entries.collect {
        case e if near(e.phash, d.phash) => e.media_id
      }
      out += MediaVerdict(d.media_id, bk, colliders)
      if (entries.size < cap) entries = entries :+ d
    }
    (out.result(), entries)
  }

  /** Stage 1 (stateful): band each arrival, fold each band group. All of
    * a media row's verdicts land in its own micro-batch, so the
    * cross-arm combine is batch-local ([[admittedOfBatch]]). */
  def gateStream(docs: Dataset[MediaDoc]): Dataset[MediaVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(d => bandKeysOf(d.kind, d.phash).map(bk =>
        MediaBandRow(bk, d.media_id, d.kind, d.phash)))
      .groupByKey(_.bk)
      .flatMapGroupsWithState[MediaGateState, MediaVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bk: String, it: Iterator[MediaBandRow],
         state: GroupState[MediaGateState]) =>
          val (out, entries) = runFold(
            it.map(r => MediaDoc(r.media_id, r.kind, r.phash)).toSeq,
            state.getOption.map(_.entries).getOrElse(Seq.empty), bk)
          state.update(MediaGateState(entries))
          out.iterator
      }(stateEncoder, implicitly[Encoder[MediaVerdict]])
  }

  /** The band history's state encoder (see [[StateEncoders]]). */
  private lazy val stateEncoder: Encoder[MediaGateState] =
    StateEncoders.bound[MediaGateState]

  /** Cross-arm combine over ONE micro-batch's stage-1 output: distinct
    * colliders across arms → admitted iff none. Run inside
    * `foreachBatch` (or on the memory-sink table in the spec). */
  def admittedOfBatch(verdicts: DataFrame): DataFrame = {
    val spark = verdicts.sparkSession
    import spark.implicits._
    verdicts
      .select($"media_id", explode_outer($"colliders").as("collider"))
      .groupBy($"media_id")
      .agg(
        countDistinct($"collider").as("n_prior_neardups"),
        coalesce(min($"collider"), lit(-1L)).as("first_collider"))
      .select($"media_id",
        ($"n_prior_neardups" === 0).as("admitted"),
        $"n_prior_neardups", $"first_collider")
  }

  /** Declared q305: the EXACT relational replay of the sequential gate —
    * per media row, the admission verdict, the number of distinct
    * earlier near-dup colliders, and the earliest one. */
  def replayBatch(spark: SparkSession, dir: String): DataFrame =
    replayOver(Multimodal.perceptualHashes(spark, dir))

  /** The gate's VIDEO corpus (q307): every q303 scene-signature
    * fingerprint as a `kind = "video"` [[MediaDoc]] — the identical
    * fold/replay machinery admits the third modality (32-bit geometry →
    * the audio band arms, per [[shiftsFor]]). */
  def videoDocs(spark: SparkSession, dir: String): Dataset[MediaDoc] = {
    import spark.implicits._
    Multimodal.videoPerceptualHashes(spark, dir)
      .select($"media_id", lit("video").as("kind"), $"vhash".as("phash"))
      .as[MediaDoc]
  }

  /** Declared q307: [[replayBatch]] for the video modality — closes the
    * last cell of the 3-modality × (classes, pairs, gate) matrix (q303
    * gives exact classes, q304 near-dup pairs; this is the ADMISSION
    * path a live video feed needs). */
  def replayVideoBatch(spark: SparkSession, dir: String): DataFrame =
    replayOver(videoDocs(spark, dir).toDF())

  /** [[replayBatch]]'s core over an arbitrary `(media_id, kind, phash)`
    * relation. The input feeds THREE plan consumers (both sides of the
    * candidate join through `banded`, plus the final verdict join-back)
    * — barriered, or the upstream codec pass would run three times (the
    * r14 phashPairs ADVICE class, caught in the r15 self-audit). */
  def replayOver(phIn: DataFrame): DataFrame = {
    val ph = graft.CacheGuard.barrier(phIn)
    val spark = ph.sparkSession
    import spark.implicits._
    def shiftsOf(kind: String) =
      array(Multimodal.phashBandShifts(kind).map(lit): _*)
    val banded = ph
      .withColumn("sh", explode(when($"kind" === "image", shiftsOf("image"))
        .otherwise(shiftsOf("audio"))))
      .select($"media_id", $"phash",
        concat($"kind", lit(":"), $"sh", lit(":"),
          expr("shiftright(phash, CAST(sh AS INT))")
            .bitwiseAND(lit((1L << Multimodal.phashBandBits) - 1))).as("bk"))
    val registered = banded
      .withColumn("rk", row_number().over(
        Window.partitionBy($"bk").orderBy($"media_id")))
      .filter($"rk" <= groupCap)
    val hits = registered.as("x").join(banded.as("y"),
        $"x.bk" === $"y.bk" && $"x.media_id" < $"y.media_id")
      .select($"x.media_id".as("a"), $"y.media_id".as("b"),
        $"x.phash".as("pa"), $"y.phash".as("pb"))
      .dropDuplicates("a", "b")
      .filter(expr("bit_count(pa ^ pb)") <= Multimodal.phashHammingMax)
      .groupBy($"b")
      .agg(count(lit(1)).as("n_prior_neardups"),
        min($"a").as("first_collider"))
    ph.join(hits, ph("media_id") === hits("b"), "left")
      .select(ph("media_id"), ph("kind"),
        $"n_prior_neardups".isNull.as("admitted"),
        coalesce($"n_prior_neardups", lit(0L)).as("n_prior_neardups"),
        coalesce($"first_collider", lit(-1L)).as("first_collider"))
      .orderBy($"media_id")
  }
}
