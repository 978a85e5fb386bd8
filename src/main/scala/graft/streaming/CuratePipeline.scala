package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.Tables
import graft.operators.TextAnalysis
import graft.functions.TextFunctions.{fingerprint, stopwordCount, tokens}

/** A document on the ingestion stream: dedup key = source, content =
  * fingerprint, arrival order = doc_id, plus the quality features the
  * filter stage reads (`q_u4` = the q26 composite score on the exact
  * 1e-4 integer grid — the q168 unit). */
case class PipeDoc(source: String, doc_id: Long, fp: String,
                   n_tokens: Long, q_u4: Long)

/** A document that survived the full curation pipeline. */
case class CuratedDoc(doc_id: Long, source: String, fp: String,
                      n_tokens: Long, q_u4: Long)

/** STREAMING INGESTION SLICE (q166) — the per-operator streaming kit
  * composed into the one pipeline a live training-data feed runs, the
  * stream twin of the q76 batch capstone:
  *
  *   source (PageFeed DSv2 cursor feed, or any `Dataset[PipeDoc]`)
  *     → Bloom dedup GATE (q94's per-source `GroupState` sketch —
  *       bounded bytes per key regardless of stream length)
  *     → QUALITY filter: exact integer token-count bounds (the q26
  *       length gate) AND the PER-SOURCE adaptive floor (q168's
  *       FineWeb-style p25 threshold table, computed from the HISTORY
  *       corpus and broadcast into the gate — O(sources) entries, the
  *       q61 broadcast-gate shape; a global cutoff either guts clean
  *       sources or passes everything from dirty ones)
  *     → `foreachBatch` PARQUET APPEND with a checkpoint (K2/K3: the
  *       reference's append-CSV + cursor files as one fault-tolerant
  *       sink; the resume point is the checkpoint, not a token file).
  *
  * The declared q166 query is the EXACT RELATIONAL REPLAY of the whole
  * pipeline (q94's replay theorem extended by the filter stage): a
  * Bloom position is set for document d iff some earlier document
  * hashes to it, so the sequential gate needs no sequential state to
  * replay — and the quality filter is stateless row arithmetic against
  * a threshold table that is DETERMINISTIC from history (so stream and
  * replay derive the identical floors). Stream and replay agree row
  * for row when micro-batches arrive in doc_id order, INCLUDING across
  * a stop/restart from the checkpoint (spec-asserted: the recovered
  * `GroupState` words continue the fold exactly where the stopped
  * query left it).
  *
  * Scale shape: the stream shuffles each micro-batch once on `source`
  * and holds O(sources × m/32) state; the floor table is O(sources)
  * rows broadcast with the task closure; the sink appends partitions
  * in parallel. The replay is q94's — one groupBy(source, pos) min
  * over O(corpus × k) small integer keys, one join back, one per-doc
  * reduce — plus the per-row filter against the broadcast floors. */
object CuratePipeline {

  /** Quality bounds (half-open, exact integers), shared with the oracle
    * and spec; chosen inside the generated token-count range so BOTH
    * verdicts occur at every SF. */
  val minTokens = 16L
  val maxTokens = 80L

  private val words = (BloomGate.mBits / 32).toInt

  /** The q26 score on the u4 grid, as one column — the exact unit the
    * q168 floor table uses, shared by [[pipeDocs]] and the oracle. */
  private[streaming] def qU4(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(TextAnalysis.qualityExpr(
        size(toks).cast("long"),
        stopwordCount(toks, TextAnalysis.stopwords).cast("long")) * 1e4
      + lit(0.5)).cast("long")

  /** The ingestion corpus: documents + id-shifted re-arrivals (the q94
    * convention) with the quality features attached. */
  def pipeDocs(spark: SparkSession, dir: String): Dataset[PipeDoc] = {
    import spark.implicits._
    val toks = tokens($"text")
    val base = Tables.documents(spark, dir)
      .select($"source", $"doc_id", fingerprint($"text").as("fp"),
        size(toks).cast("long").as("n_tokens"),
        qU4(toks).as("q_u4"))
    base.unionByName(base.withColumn("doc_id", $"doc_id" + 100000L))
      .as[PipeDoc]
  }

  /** The per-source floor table (q168's `thr_u4`) as the O(sources)
    * driver-side map the streaming gate broadcasts — the production
    * artifact of [[TextAnalysis.sourceQualityFloor]], derived from the
    * HISTORY corpus so it is deterministic and replayable. */
  def qualityFloors(spark: SparkSession, dir: String): Map[String, Long] =
    collectFloors(TextAnalysis.sourceQualityFloor(spark, dir))

  /** A floor table (`source`, `thr_u4`) as the map both curation streams
    * cut against, collected once when a stream starts. A null `thr_u4`
    * is floor 0 and a null source matches no document, as in the
    * replay's left join; a source listed twice is rejected, since a
    * join would have admitted its documents once per row. */
  def collectFloors(floors: DataFrame): Map[String, Long] = {
    val rows = floors.filter(col("source").isNotNull)
      .select(col("source"), coalesce(col("thr_u4").cast("long"), lit(0L)))
      .collect()  // collect-ok: O(sources) floor table
    val sources = rows.map(_.getString(0))
    require(sources.distinct.length == sources.length,
      "floor table lists a source more than once: " +
        sources.diff(sources.distinct).distinct.sorted.mkString(", "))
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Gate + filter over a (batch or streaming) `Dataset[PipeDoc]`: one
    * Bloom fold per source ([[BloomGate.runFold]] — the SAME fold the
    * per-operator q94 stream runs), then the stateless quality cut:
    * token bounds plus the per-source floor (`floors` — an unknown
    * source, absent from history, admits at floor 0 and starts
    * accumulating history for the next table build). */
  def curateStream(docs: Dataset[PipeDoc],
                   floors: Map[String, Long],
                   m: Long = BloomGate.mBits,
                   k: Int = BloomGate.kHashes): Dataset[CuratedDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Vector[Int], CuratedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[PipeDoc], state: GroupState[Vector[Int]]) =>
          val seq = it.toSeq
          val (verdicts, w) = BloomGate.runFold(
            seq.map(d => StreamDoc(d.source, d.doc_id, d.fp)),
            state.getOption.getOrElse(Vector.fill(words)(0)), m, k)
          state.update(w)
          val emitted =
            verdicts.collect { case v if v.emitted => v.doc_id }.toSet
          seq.sortBy(_.doc_id).iterator
            .filter(d => emitted(d.doc_id) &&
              d.n_tokens >= minTokens && d.n_tokens < maxTokens &&
              d.q_u4 >= floors.getOrElse(d.source, 0L))
            .map(d => CuratedDoc(d.doc_id, d.source, d.fp, d.n_tokens, d.q_u4))
      }(stateEncoder, implicitly[Encoder[CuratedDoc]])
  }

  /** The Bloom words' state encoder (see [[StateEncoders]]). */
  private lazy val stateEncoder: Encoder[Vector[Int]] = StateEncoders.bound[Vector[Int]]

  /** K2/K3 sink: checkpointed parquet append — restart resumes from the
    * committed micro-batch. Started through [[StreamStart.appendBatches]]
    * (its checkpoint files). Delivery is AT-LEAST-ONCE on replay: the
    * append ignores the batch id, so a crash after the write and before
    * the commit log lands that batch's rows a second time on restart. */
  def parquetAppendSink(ds: Dataset[CuratedDoc], outPath: String,
                        checkpointPath: String): StreamingQuery =
    StreamStart.appendBatches(ds, checkpointPath) { (batch, _) =>
      batch.write.options(StreamStart.rawLocalWrite).mode("append").parquet(outPath)
    }

  /** Declared q166: the exact relational replay of gate + filter — the
    * curated table the streaming pipeline materializes, computed as one
    * batch plan (q94's replay joined back to the quality features and
    * the q168 floor table; the floors join is O(sources) rows, a
    * broadcast in any sane plan). */
  def curateReplayBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val thr = TextAnalysis.sourceQualityFloor(spark, dir)
      .select($"source", $"thr_u4")
    BloomGate.bloomReplayBatch(spark, dir)
      .filter($"emitted")
      .join(pipeDocs(spark, dir), Seq("doc_id", "source"))
      .join(broadcast(thr), Seq("source"))
      .filter($"n_tokens" >= minTokens && $"n_tokens" < maxTokens &&
        $"q_u4" >= $"thr_u4")
      .select($"doc_id", $"source", $"fp", $"n_tokens", $"q_u4")
      .orderBy($"doc_id")
  }
}
