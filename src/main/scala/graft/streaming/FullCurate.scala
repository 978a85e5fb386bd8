package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.Tables
import graft.operators.TextAnalysis
import graft.functions.TextFunctions.{fingerprint, tokens, wordShingles}

/** A document on the FULL curation stream: the q166 quality features
  * plus the q173 MinHash signature (`sig` empty for docs under the
  * shingle minimum — those pass the near-dup gate vacuously). */
case class FullDoc(source: String, doc_id: Long, fp: String,
                   n_tokens: Long, q_u4: Long, sig: Seq[Long])

/** One gate's vote on one document. `gate` ∈ {exact, band, media, sem};
  * the exact row (always exactly one per doc) carries the doc's feature
  * columns for the batch-local combine; the other rows carry only the
  * vote. */
case class GateVote(doc_id: Long, source: String, fp: String,
                    n_tokens: Long, q_u4: Long, gate: String,
                    blocked: Boolean)

/** One row of the FUSED gate exchange: each document expands to its rows
  * across every gate it participates in, tagged with the namespaced
  * group key ("x:"/"b:"/"m:"/"s:"). Fields a row's gate does not read
  * stay empty — the exchange pays only per-row nulls for them. */
case class FusedRow(key: String, doc_id: Long,
                    source: String, fp: String, n_tokens: Long, q_u4: Long,
                    band: Int, sig: Seq[Long], kind: String, phash: Long,
                    embedding: Seq[Float])

/** The one state value for every fused gate group. A group's key lives
  * in exactly one gate namespace, so exactly one field is ever
  * populated; the others serialize as empties. */
case class FusedGateState(bloom: Vector[Int], sigs: Seq[SigDoc],
                          media: Seq[MediaDoc],
                          sem: Seq[(Long, Seq[Float])])

/** THE FULL STREAMING CURATION GATE (q248) — round 9 shipped the three
  * stages separately (q166: Bloom exact gate + per-source quality
  * floors; q173: the banded MinHash near-dup gate); production curation
  * runs them as ONE pipeline, and this module composes them into one
  * streaming query:
  *
  *   source stream
  *     → EXACT gate   (q94 per-source Bloom `GroupState` fold)
  *     → NEAR-DUP gate (q173 per-(band, slice) `GroupState` fold)
  *     → QUALITY cut  (q26 token bounds + q168 per-source p25 floors,
  *                     stateless against the history table, read once
  *                     when the stream starts)
  *     → checkpointed parquet append.
  *
  * The two stateful stages key DIFFERENTLY (source vs band slice); they
  * share ONE `flatMapGroupsWithState` over a namespaced key ("x:"
  * source / "b:" band:slice — [[fusedGates]], the same operator
  * [[MultiModalCurate]] feeds its media and semantic rows into); the
  * cross-gate combine is BATCH-LOCAL (every vote for a doc lands in the
  * doc's own micro-batch) and runs inside `foreachBatch` as one
  * `groupBy(doc_id)` aggregate ([[combineBatch]]), so each micro-batch
  * reads its gate output once and runs and commits the state stores
  * once. No stage ever waits on another's watermark.
  *
  * Both folds stay SEEN-based (every arrival registers in Bloom bits
  * and band history whether or not it is admitted), which is what keeps
  * the composition relationally replayable with NO recursion: each
  * gate's verdict depends only on arrival order, so the composed
  * verdict is simply the conjunction
  *
  *   curated(d) ⟺ bloom_emitted(d) ∧ (no sig ∨ no prior near-dup)
  *              ∧ minTokens ≤ n_tokens < maxTokens ∧ q_u4 ≥ floor(src).
  *
  * The declared q248 query IS that conjunction over the replays
  * ([[replayBatch]] = q94's first-setter replay ⋈ q173's rank-capped
  * band replay ⋈ the q168 floor table), and stream ≡ replay row for row
  * in doc_id-ordered micro-batches, including across a RocksDB
  * checkpoint restart (spec-asserted).
  *
  * The near-dup stage has REAL work beyond the exact gate: the corpus
  * adds "edited re-crawls" ([[editedDocs]] — every 7th document
  * re-arrives with an appended edit token, the q92 v2-edit convention).
  * Their fingerprints differ, so the Bloom gate passes them; whether
  * the near-dup gate suppresses one depends on its signature agreeing
  * with the original's at ≥ 8/16 coordinates — deterministic in both
  * engines, and genuinely split both ways at every SF (short docs shift
  * many shingles, long docs few), so the composed gate's oracle
  * exercises suppression-by-near-dup-only, admission, and both quality
  * verdicts.
  *
  * Scale shape: each micro-batch shuffles once into the fused operator
  * (1 + `bands` rows/doc) and once on doc_id for the combine; state is
  * O(sources × m/32) Bloom words + O(real collision groups × cap ×
  * perms) band longs, one state-store commit cycle per micro-batch; the
  * floor table is O(sources) entries, collected once when the stream
  * starts and carried into every micro-batch's plan as a map literal,
  * so a micro-batch runs one Spark job and broadcasts nothing. The
  * replay's shuffles are the q94 and q173 audited shapes plus one
  * doc_id join.
  *
  * A checkpoint written before the gates were fused (two stateful
  * operators, state keyed by source and by (band, slice)) cannot be
  * resumed by the fused query: its state schema and operator ids
  * differ. Replay such a stream from the start into a new checkpoint. */
object FullCurate {

  /** Edit-re-crawl fixture constants (the q92 convention, offset clear
    * of dupCorpus/digest/setsim-seed id ranges). Every `editStride`-th
    * doc re-arrives edited; alternating edits are LIGHT (one appended
    * token — the signature barely moves, est ≈ 1, suppressed) or HEAVY
    * (only the first ⌈n/3⌉ tokens survive plus a marker — true Jaccard
    * ≈ 1/3, est < 1/2 for nearly all signatures, admitted), so the
    * near-dup stage's oracle exercises BOTH verdicts at every SF. */
  val editStride = 7L
  val editOffset = 500000L
  val editSuffix = " v2-edit"
  val rewriteSuffix = " v2-rewrite"

  import CuratePipeline.{minTokens, maxTokens}
  import NearDupGate.{perms, bands, rows}

  /** The composed pipeline's corpus: base docs, exact re-arrivals
    * (+100000, the q94/q166 convention), and edited re-crawls
    * (+500000). */
  def fullCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"text")
    val tk = tokens($"text")
    val keep = floor((size(tk) + 2) / 3).cast("int")
    base
      .unionByName(base.withColumn("doc_id", $"doc_id" + 100000L))
      .unionByName(base.filter($"doc_id" % editStride === 0)
        // edit kind from the BASE id, THEN shift (two steps — an aliased
        // doc_id in the same select would win lateral-column-alias
        // resolution inside the when())
        .select($"source", $"doc_id",
          when($"doc_id" % (2 * editStride) === 0,
            concat(concat_ws(" ", slice(tk, lit(1), keep)), lit(rewriteSuffix)))
            .otherwise(concat($"text", lit(editSuffix))).as("text"))
        .withColumn("doc_id", $"doc_id" + editOffset))
  }

  /** Feature + signature extraction over the composed corpus — one
    * tokenize pass per row; `sig` null-safe to empty for sub-shingle
    * docs so the Dataset encoder never sees a null Seq. */
  def fullDocs(spark: SparkSession, dir: String): Dataset[FullDoc] = {
    import spark.implicits._
    val toks = tokens($"text")
    fullCorpus(spark, dir)
      .select($"source", $"doc_id", fingerprint($"text").as("fp"),
        size(toks).cast("long").as("n_tokens"),
        CuratePipeline.qU4(toks).as("q_u4"),
        coalesce(
          graft.functions.native.md5MinHashSig(
            array_distinct(wordShingles(toks, 3)), perms),
          typedLit(Seq.empty[Long])).as("sig"))
      .as[FullDoc]
  }

  /** A document's rows on the fused gate exchange: the exact row keyed
    * by source, and for a doc with a signature one row per band keyed by
    * its slice. */
  private[streaming] def textRows(source: String, docId: Long, fp: String,
                                  nTokens: Long, qU4: Long,
                                  sig: Seq[Long]): Seq[FusedRow] =
    FusedRow("x:" + source, docId, source, fp, nTokens, qU4,
      0, Seq.empty, "", 0L, Seq.empty) +:
      (if (sig.isEmpty) Seq.empty
       else (0 until bands).map { b =>
         val slice = sig.slice(b * rows, b * rows + rows)
         FusedRow(s"b:$b:${slice.mkString(",")}", docId,
           "", "", 0L, 0L, b, sig, "", 0L, Seq.empty)
       })

  /** The one streaming transform: both gates in the fused operator, one
    * vote per doc per gate row. Run [[combineBatch]] on each
    * micro-batch of the result (all of a doc's votes are batch-local). */
  def gateStream(docs: Dataset[FullDoc]): Dataset[GateVote] = {
    import docs.sparkSession.implicits._
    fusedGates(docs.flatMap(d =>
      textRows(d.source, d.doc_id, d.fp, d.n_tokens, d.q_u4, d.sig)))
  }

  /** THE fused stateful gate operator of both curation streams: every
    * gate's group lives in ONE `flatMapGroupsWithState` over the
    * namespaced key ("x:" source / "b:" band:slice / "m:" media band /
    * "s:" sem band), so a micro-batch pays ONE shuffle and ONE
    * state-store commit cycle however many gates it runs (the per-batch
    * fixed cost is `state_commit × stateful-operators × store-instances`).
    * The key spaces are disjoint by prefix and each group's fold is the
    * gate's own `runFold`, so the verdicts are the unfused gates'. */
  private[streaming] def fusedGates(fused: Dataset[FusedRow]): Dataset[GateVote] = {
    import fused.sparkSession.implicits._
    fused.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[FusedRow],
         state: GroupState[FusedGateState]) =>
          val rows0 = it.toSeq
          val st = state.getOption.getOrElse(
            FusedGateState(Vector.empty, Seq.empty, Seq.empty, Seq.empty))
          key.charAt(0) match {
            case 'x' =>
              val byId = rows0.map(r => r.doc_id -> r).toMap
              val (verdicts, w) = BloomGate.runFold(
                rows0.map(r => StreamDoc(r.source, r.doc_id, r.fp)),
                if (st.bloom.nonEmpty) st.bloom
                else Vector.fill(BloomGate.words)(0))
              state.update(st.copy(bloom = w))
              verdicts.iterator.map { v =>
                val r = byId(v.doc_id)
                GateVote(r.doc_id, r.source, r.fp, r.n_tokens, r.q_u4,
                  "exact", !v.emitted)
              }
            case 'b' =>
              val (out, entries) = NearDupGate.runFold(
                rows0.map(r => SigDoc(r.doc_id, r.sig)),
                st.sigs, rows0.head.band)
              state.update(st.copy(sigs = entries))
              out.iterator.map(v =>
                GateVote(v.doc_id, "", "", 0L, 0L, "band",
                  v.colliders.nonEmpty))
            case 'm' =>
              val (out, entries) = MediaGate.runFold(
                rows0.map(r => MediaDoc(r.doc_id, r.kind, r.phash)),
                st.media, key.substring(2))
              state.update(st.copy(media = entries))
              out.iterator.map(v =>
                GateVote(v.media_id, "", "", 0L, 0L, "media",
                  v.colliders.nonEmpty))
            case _ =>
              val (out, entries) = SemanticGate.runFold(
                rows0.map(r => (r.doc_id, r.embedding)),
                st.sem, key.substring(2))
              state.update(st.copy(sem = entries))
              out.iterator.map(v =>
                GateVote(v.vec_id, "", "", 0L, 0L, "sem",
                  v.colliders.nonEmpty))
          }
      }(gateStateEncoder, implicitly[Encoder[GateVote]])
  }

  /** [[fusedGates]]' state encoder (see [[StateEncoders]]). */
  private lazy val gateStateEncoder: Encoder[FusedGateState] =
    StateEncoders.bound[FusedGateState]

  /** Batch-local cross-gate combine + stateless quality cut, reading the
    * votes ONCE (a `foreachBatch` batch is uncached: a second read
    * re-runs the stateful operator and its commits): one
    * `groupBy(doc_id)` takes "any gate blocked" and the features of the
    * doc's one exact vote, then token bounds and the per-source floor.
    * `floors` is the O(sources) table as a map (see
    * [[CuratePipeline.collectFloors]]), looked up in the plan as a
    * literal: no join, no broadcast, no second job. An unknown source
    * admits at floor 0 (the q166 rule). */
  def combineBatch(votes: DataFrame, floors: Map[String, Long]): DataFrame = {
    val spark = votes.sparkSession
    import spark.implicits._
    votes.groupBy($"doc_id")
      .agg(max($"blocked").as("blocked"),
        max(when($"gate" === "exact",
          struct($"source", $"fp", $"n_tokens", $"q_u4"))).as("d"))
      .filter(!$"blocked" && $"d".isNotNull)
      .select($"doc_id", $"d.*")
      .filter($"n_tokens" >= minTokens && $"n_tokens" < maxTokens &&
        $"q_u4" >= coalesce(try_element_at(typedLit(floors), $"source"), lit(0L)))
  }

  /** The end-to-end streaming pipeline: gates → combine → checkpointed
    * parquet append (K2/K3 — restart resumes from the committed
    * micro-batch). `floors` (`source`, `thr_u4`) is read once, when the
    * stream starts; a new floor table needs a restart. `sinkPartitions`
    * optionally coalesces the combine output before the append — a
    * micro-batch's curated slice is tiny relative to the shuffle width,
    * and one file per batch beats shuffle-partition-many empty-ish files
    * through the Hadoop commit protocol (measured in `StreamBench`; None
    * preserves the plan width for corpus-sized batches). */
  def curatedStream(docs: Dataset[FullDoc], floors: DataFrame,
                    outPath: String, checkpointPath: String,
                    sinkPartitions: Option[Int] = None): StreamingQuery =
    sinkVotes(gateStream(docs), floors, outPath, checkpointPath, sinkPartitions)

  /** Votes → [[combineBatch]] → parquet append, for both curation
    * streams, started through [[StreamStart.appendBatches]] (its
    * checkpoint files and its at-least-once delivery on replay: the
    * append ignores the batch id). The floor table is collected here,
    * once, before the start. */
  private[streaming] def sinkVotes(votes: Dataset[GateVote], floors: DataFrame,
                                   outPath: String, checkpointPath: String,
                                   sinkPartitions: Option[Int]): StreamingQuery = {
    val floorMap = CuratePipeline.collectFloors(floors)
    StreamStart.appendBatches(votes, checkpointPath) { (batch, _) =>
      val out = combineBatch(batch.toDF(), floorMap)
      sinkPartitions.fold(out)(out.coalesce)
        .write.options(StreamStart.rawLocalWrite).mode("append").parquet(outPath)
    }
  }

  /** The full per-document verdict vector behind q248/q249: every doc of
    * the composed corpus with each stage's independent verdict (package-
    * visible: [[MultiModalCurate]] extends it with the media/semantic
    * verdicts). */
  private[streaming] def decisionVector(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // leaf, not lazy barrier (round 18): fd feeds the Bloom replay, the
    // near-dup replay, and the verdict join as concurrent AQE legs — the
    // job probe measured a 7-way cold race (~1 task-s each) rebuilding
    // the signature projection per leg
    val fd = graft.CacheGuard.checkpointLeaf(fullDocs(spark, dir).toDF())
    val bloom = BloomGate.bloomReplayOver(
      fd.select($"source", $"doc_id", $"fp"))
      .select($"doc_id", $"emitted")
    val ndup = NearDupGate.replayOver(
        fd.filter(size($"sig") > 0).select($"doc_id", $"sig"))
      .select($"doc_id", $"admitted".as("nd_admitted"))
    val floors = TextAnalysis.sourceQualityFloor(spark, dir)
      .select($"source", $"thr_u4")
    fd.join(bloom, "doc_id")
      .join(ndup, Seq("doc_id"), "left")
      .join(broadcast(floors), Seq("source"), "left")
      .select($"doc_id", $"source", $"fp", $"n_tokens", $"q_u4",
        $"emitted",
        coalesce($"nd_admitted", lit(true)).as("nd_ok"),
        ($"n_tokens" >= minTokens && $"n_tokens" < maxTokens).as("len_ok"),
        ($"q_u4" >= coalesce($"thr_u4", lit(0L))).as("floor_ok"))
  }

  /** Declared q248: the exact relational replay of the composed gate —
    * one batch plan conjoining the q94 Bloom replay, the q173 band
    * replay (both over the composed corpus), and the q168 floor table. */
  def replayBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decisionVector(spark, dir)
      .filter($"emitted" && $"nd_ok" && $"len_ok" && $"floor_ok")
      .select($"doc_id", $"source", $"fp", $"n_tokens", $"q_u4")
      .orderBy($"doc_id")
  }

  /** CURATION DECISION LOG (q249) — the ops artifact the composed gate
    * owes its operators: one row per arriving document with the verdict
    * of EVERY stage (exact gate, near-dup gate, length bounds, quality
    * floor), the final outcome, and a single primary `dropped_by` label
    * under the pipeline's stage order (exact → near-dup → length →
    * floor — the order the stream applies them, so the label names the
    * stage that would have cut the doc first). q248 publishes the
    * curated corpus; this publishes WHY each of the other documents is
    * absent — the artifact a curation regression ("why did volume drop
    * 30% on Tuesday") is debugged from, and the per-stage drop counts a
    * release report quotes.
    *
    * Scale shape: identical to q248 (the verdicts are the same three
    * replays joined on doc_id); the label is per-row CASE arithmetic.
    * The log is corpus-sized by design — at 100 TB it lands partitioned
    * next to the curated output, not in a driver report. */
  def decisionLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decisionVector(spark, dir)
      .select($"doc_id", $"source", $"n_tokens", $"q_u4",
        $"emitted", $"nd_ok", $"len_ok", $"floor_ok",
        ($"emitted" && $"nd_ok" && $"len_ok" && $"floor_ok").as("curated"),
        when(!$"emitted", "exact")
          .when(!$"nd_ok", "neardup")
          .when(!$"len_ok", "length")
          .when(!$"floor_ok", "floor")
          .otherwise("none").as("dropped_by"))
      .orderBy($"doc_id")
  }

  /** PHASE FUNNEL (q265) — the q250 funnel cut by ARRIVAL PHASE instead
    * of source: base documents, exact re-arrivals, and edited re-crawls
    * each have a DESIGNED fate profile (bases die only on quality;
    * re-arrivals die at the exact gate, every one; edits split at the
    * near-dup gate by edit weight), and this rollup is the assertion of
    * that profile as a query — the "is the gate behaving" dashboard row
    * that a per-source or global rate cannot express. Phase is pure id
    * arithmetic (the fixture regions), so the rollup costs one
    * O(phases) aggregate over the shared verdict vector. */
  def phaseFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decisionVector(spark, dir)
      .withColumn("phase",
        when($"doc_id" >= editOffset, "edited_recrawl")
          .when($"doc_id" >= 100000L, "exact_rearrival")
          .otherwise("base"))
      .groupBy($"phase")
      .agg(count(lit(1)).as("n_arrived"),
        sum(when(!$"emitted", 1L).otherwise(0L)).as("n_exact_dropped"),
        sum(when($"emitted" && !$"nd_ok", 1L).otherwise(0L))
          .as("n_neardup_dropped"),
        sum(when($"emitted" && $"nd_ok" && !$"len_ok", 1L).otherwise(0L))
          .as("n_length_dropped"),
        sum(when($"emitted" && $"nd_ok" && $"len_ok" && !$"floor_ok", 1L)
          .otherwise(0L)).as("n_floor_dropped"),
        sum(when($"emitted" && $"nd_ok" && $"len_ok" && $"floor_ok", 1L)
          .otherwise(0L)).as("n_curated"))
      .select($"phase", $"n_arrived", $"n_exact_dropped",
        $"n_neardup_dropped", $"n_length_dropped", $"n_floor_dropped",
        $"n_curated",
        expr("n_curated * 10000 div n_arrived").as("yield_u4"))
      .orderBy($"phase")
  }

  /** CURATION FUNNEL (q250) — the release-report rollup of the q249
    * decision log: per source, arrivals and the count each stage cut
    * (under the pipeline's stage order, so the columns sum with
    * `n_curated` back to `n_arrived` — a funnel, not four overlapping
    * rates), plus the curated yield in exact 1e-4 units. The per-source
    * view is the point: a source whose volume is eaten by the exact
    * gate is re-crawling itself; one eaten by the floor is a quality
    * regression — the two incidents look identical in a global rate.
    *
    * Scale shape: one groupBy(source) over the corpus-sized decision
    * vector — O(sources) output rows, partial-aggregable counters; at
    * 100 TB this is the cheap summary pass over the log q249 lands. */
  def funnelReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decisionVector(spark, dir)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_arrived"),
        sum(when(!$"emitted", 1L).otherwise(0L)).as("n_exact_dropped"),
        sum(when($"emitted" && !$"nd_ok", 1L).otherwise(0L))
          .as("n_neardup_dropped"),
        sum(when($"emitted" && $"nd_ok" && !$"len_ok", 1L).otherwise(0L))
          .as("n_length_dropped"),
        sum(when($"emitted" && $"nd_ok" && $"len_ok" && !$"floor_ok", 1L)
          .otherwise(0L)).as("n_floor_dropped"),
        sum(when($"emitted" && $"nd_ok" && $"len_ok" && $"floor_ok", 1L)
          .otherwise(0L)).as("n_curated"))
      .select($"source", $"n_arrived", $"n_exact_dropped",
        $"n_neardup_dropped", $"n_length_dropped", $"n_floor_dropped",
        $"n_curated",
        expr("n_curated * 10000 div n_arrived").as("yield_u4"))
      .orderBy($"source")
  }
}
