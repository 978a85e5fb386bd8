package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables
import graft.functions.VectorFunctions.signLshBucket
import graft.operators.Multimodal

/** An item on the MULTI-MODAL curation stream: the [[FullDoc]] text
  * features + the item's attached media fingerprints (q301 image/audio
  * perceptual hash, q303 video scene signature — derived from the BASE
  * document, so a re-arrival or text edit carries its ORIGINAL media) and
  * optional embedding (`has_vec`; `embedding`/`sim32` empty/0 without). */
case class MmDoc(source: String, doc_id: Long, fp: String,
                 n_tokens: Long, q_u4: Long, sig: Seq[Long],
                 kind: String, phash: Long, vhash: Long,
                 embedding: Seq[Float], sim32: Long, has_vec: Boolean)

/** THE FULL MULTI-MODAL ADMISSION CHAIN (q317) — the r15 verdict's last
  * composition gap: the text pipeline (q248 = exact Bloom + MinHash
  * near-dup + length + quality floor), the media-perceptual gate
  * (q305/q307) and the semantic gate (q308) each existed and replayed
  * individually, but `FullCurate` composed only the text stages — a
  * production curation stream admits an ITEM (text + attached media +
  * embedding), and an item must clear EVERY representation level:
  *
  *   item stream
  *     → EXACT text gate    (q94 per-source Bloom fold)
  *     → TEXT near-dup gate (q173 banded-MinHash fold)
  *     → SEMANTIC gate      (q308 sign-LSH banded cosine fold; vacuous
  *                           for items without an embedding)
  *     → MEDIA gate         (q305 Hamming-banded perceptual fold over
  *                           the image/audio fingerprint)
  *     → VIDEO gate         (q307 — the same fold over the q303 scene
  *                           signature)
  *     → length + quality-floor cut (stateless)
  *     → checkpointed parquet append.
  *
  * The five stateful stages key differently (source / text band / sem
  * band / media band / video band); they share [[FullCurate]]'s ONE
  * fused `flatMapGroupsWithState` over a namespaced key
  * ([[FullCurate.fusedGates]], with media and semantic rows beside the
  * text rows), and the per-item votes meet in the same one-pass
  * batch-local combine inside `foreachBatch`
  * ([[FullCurate.combineBatch]]). Every fold is SEEN-based, so the
  * composed verdict is a pure conjunction over arrival order and the
  * chain replays relationally with no recursion — the declared q317 IS
  * that replay ([[decisionLog]]), and stream ≡ replay row-for-row in
  * doc_id-ordered micro-batches, including across a RocksDB checkpoint
  * restart (spec-asserted).
  *
  * WHY the composition has real multi-modal work (not five gates
  * glued): media/embeddings derive from the BASE id, so an edited
  * re-crawl arrives with NEW text but its ORIGINAL image and embedding.
  * A heavy rewrite slips the text near-dup gate (true Jaccard ≈ 1/3) —
  * in the text-only pipeline it is ADMITTED; here the unchanged
  * fingerprint kills it at the semantic/media stage. That cross-modal
  * catch is the whole point of multi-modal admission, and the fixture
  * exercises it at every SF (spec-pinned).
  *
  * Scale shape: one shuffle into the fused operator per micro-batch
  * (≤ 1+4+7+4+4 rows/item: the source key and the band rows) and one
  * doc_id shuffle for the combine; state is the five gates' documented
  * O(groups × cap) footprints, unchanged by composition. The replay
  * adds three rank-window-over-band-blocks chains and two base-id joins
  * to q248's — every window block-sized, never the corpus. */
object MultiModalCurate {

  import FullCurate.{editOffset, editStride}

  /** (base_id, doc_id) for every arrival of the composed corpus — the
    * SAME three-phase construction as [[FullCurate.fullCorpus]], with
    * the base id CARRIED rather than recovered: subtracting the phase
    * offsets back out of the arrival id silently breaks on any id
    * domain above the offsets (the sf1 probe's 10M-stride replica keys
    * dropped 90k arrivals through the inner join — caught by the r16
    * sf1 differential), while the carried pair is correct on every id
    * domain by construction. */
  private def arrivals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id")
    base.select($"doc_id".as("base_id"), $"doc_id")
      .unionByName(base.select($"doc_id".as("base_id"),
        ($"doc_id" + 100000L).as("doc_id")))
      .unionByName(base.filter($"doc_id" % editStride === 0)
        .select($"doc_id".as("base_id"),
          ($"doc_id" + editOffset).as("doc_id")))
  }

  /** The composed corpus: [[FullCurate.fullDocs]]'s three text phases,
    * each item joined to its BASE document's media fingerprints (every
    * doc has one image/audio + one video fingerprint) and embedding
    * (left — only base ids present in `embeddings` carry one). The
    * fingerprint relations are the q301/q303 fixtures restricted to
    * base rows (semi-join against the documents ids — the brightness
    * twins are the standalone gates' corpus, not items here). */
  def mmDocs(spark: SparkSession, dir: String): Dataset[MmDoc] = {
    import spark.implicits._
    val docIds = Tables.documents(spark, dir)
      .select($"doc_id".as("media_id"))
    val ph = Multimodal.perceptualHashes(spark, dir)
      .join(docIds, Seq("media_id"), "left_semi")
      .select($"media_id".as("base_id"), $"kind", $"phash")
    val vh = Multimodal.videoPerceptualHashes(spark, dir)
      .join(docIds, Seq("media_id"), "left_semi")
      .select($"media_id".as("base_id"), $"vhash")
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id".as("base_id"), $"embedding")
    FullCurate.fullDocs(spark, dir).toDF()
      .join(arrivals(spark, dir), "doc_id")
      .join(ph, Seq("base_id"))
      .join(vh, Seq("base_id"))
      .join(emb, Seq("base_id"), "left")
      .select($"source", $"doc_id", $"fp", $"n_tokens", $"q_u4", $"sig",
        $"kind", $"phash", $"vhash",
        coalesce($"embedding", typedLit(Seq.empty[Float])).as("embedding"),
        coalesce(signLshBucket($"embedding", SemanticGate.bits), lit(0L))
          .as("sim32"),
        $"embedding".isNotNull.as("has_vec"))
      .as[MmDoc]
  }

  /** The one streaming transform: each item's text rows
    * ([[FullCurate.textRows]]), media/video band rows and, with an
    * embedding, semantic band rows all go through the fused gate
    * operator ([[FullCurate.fusedGates]]). */
  def gateStream(docs: Dataset[MmDoc]): Dataset[GateVote] = {
    import docs.sparkSession.implicits._
    FullCurate.fusedGates(docs.flatMap { d =>
      val media =
        (MediaGate.bandKeysOf(d.kind, d.phash).map(bk =>
          FusedRow("m:" + bk, d.doc_id,
            "", "", 0L, 0L, 0, Seq.empty, d.kind, d.phash, Seq.empty)) ++
         MediaGate.bandKeysOf("video", d.vhash).map(bk =>
          FusedRow("m:" + bk, d.doc_id,
            "", "", 0L, 0L, 0, Seq.empty, "video", d.vhash, Seq.empty)))
      val sem =
        if (!d.has_vec) Seq.empty
        else SemanticGate.bandKeysOf(d.sim32).map(bk =>
          FusedRow("s:" + bk, d.doc_id,
            "", "", 0L, 0L, 0, Seq.empty, "", 0L, d.embedding))
      FullCurate.textRows(d.source, d.doc_id, d.fp, d.n_tokens, d.q_u4,
        d.sig) ++ media ++ sem
    })
  }

  /** The end-to-end streaming pipeline: five gates → batch-local combine
    * (admitted iff NO gate voted blocked, then token bounds + per-source
    * floor) → checkpointed parquet append — [[FullCurate.sinkVotes]].
    * `floors` (`source`, `thr_u4`) is read once, when the stream starts;
    * a new floor table needs a restart. */
  def curatedStream(docs: Dataset[MmDoc], floors: DataFrame,
                    outPath: String, checkpointPath: String,
                    sinkPartitions: Option[Int] = None): StreamingQuery =
    FullCurate.sinkVotes(gateStream(docs), floors, outPath, checkpointPath,
      sinkPartitions)

  /** Declared q317 — the multi-modal decision log: every arrival with
    * EVERY stage's independent verdict (text exact / text near-dup /
    * semantic / media / video / length / floor), the final outcome, and
    * the primary `dropped_by` under the pipeline's stage order. The
    * media/video/semantic verdicts are the standalone gates' own replay
    * machinery ([[MediaGate.replayOver]], [[SemanticGate.replayOver]])
    * over the item relation — one formulation, three reuses. */
  def decisionLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the codec pass (PNG/WAV/GVID round-trips) feeds four replay
    // consumers — barrier it once
    val mm = graft.CacheGuard.barrier(mmDocs(spark, dir).toDF())
    val tvec = FullCurate.decisionVector(spark, dir)
    val mOk = MediaGate.replayOver(
        mm.select($"doc_id".as("media_id"), $"kind", $"phash"))
      .select($"media_id".as("doc_id"), $"admitted".as("media_ok"))
    val vOk = MediaGate.replayOver(
        mm.select($"doc_id".as("media_id"), lit("video").as("kind"),
          $"vhash".as("phash")))
      .select($"media_id".as("doc_id"), $"admitted".as("video_ok"))
    val sOk = SemanticGate.replayOver(
        mm.filter($"has_vec")
          .select($"doc_id".as("vec_id"), $"embedding", $"sim32"))
      .select($"vec_id".as("doc_id"), $"admitted".as("sem_ok"))
    tvec.join(mOk, "doc_id").join(vOk, "doc_id")
      .join(sOk, Seq("doc_id"), "left")
      .select($"doc_id", $"source", $"n_tokens", $"q_u4",
        $"emitted", $"nd_ok",
        coalesce($"sem_ok", lit(true)).as("sem_ok"),
        $"media_ok", $"video_ok", $"len_ok", $"floor_ok")
      .withColumn("curated",
        $"emitted" && $"nd_ok" && $"sem_ok" && $"media_ok" &&
          $"video_ok" && $"len_ok" && $"floor_ok")
      .withColumn("dropped_by",
        when(!$"emitted", "exact")
          .when(!$"nd_ok", "neardup")
          .when(!$"sem_ok", "semantic")
          .when(!$"media_ok", "media")
          .when(!$"video_ok", "video")
          .when(!$"len_ok", "length")
          .when(!$"floor_ok", "floor")
          .otherwise("none"))
      .orderBy($"doc_id")
  }

  /** The curated multi-modal corpus (what [[curatedStream]] lands): the
    * q317 log's admitted rows with their carry-through features. */
  def replayBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decisionLog(spark, dir)
      .filter($"curated")
      .select($"doc_id", $"source", $"n_tokens", $"q_u4")
      .orderBy($"doc_id")
  }
}
