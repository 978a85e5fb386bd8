package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.DedupOps

/** A signature-bearing document on the near-dup stream: `sig` is the
  * 16-perm md5-family MinHash signature ([[DedupOps.md5SigCorpus]]),
  * arrival order = doc_id. */
case class SigDoc(doc_id: Long, sig: Seq[Long])

/** One banded row of a [[SigDoc]]: `bk` is the raw signature slice for
  * `band` (the q55 band-key convention — the slice IS the key). */
case class BandRow(band: Int, bk: Seq[Long], doc_id: Long, sig: Seq[Long])

/** A (band, band_key) group's registered history: the first
  * [[NearDupGate.groupCap]] documents, in doc_id order, that carried
  * this exact band slice. */
case class GateGroupState(entries: Seq[SigDoc])

/** Stage-1 verdict: the registered earlier docs in ONE band group whose
  * full signatures match `doc_id`'s at ≥ [[NearDupGate.matchMin]]/16
  * coordinates (est-Jaccard ≥ τ). Emitted for every (doc, band), empty
  * `colliders` included — the batch-local combine needs the row. */
case class BandVerdict(doc_id: Long, band: Int, colliders: Seq[Long])

/** STREAMING NEAR-DUP GATE (q173) — the LSH stream twin of the exact
  * Bloom gate (q94) and the batch incremental near-dup gate (q92): admit
  * an incoming document iff NO band group contains a previously-seen
  * document at est-Jaccard ≥ τ. The reference dedups only exactly
  * (`parser_media_articles.py:83-84`); this is that gate taken to the
  * fuzzy-duplicate regime a live training-data feed needs (re-crawls,
  * boilerplate edits, tracking-param variants survive exact hashing).
  *
  * Mechanics: each incoming doc's signature is cut into `bands` raw
  * slices (the q55 band-key convention); each slice routes to a
  * `GroupState` keyed by (band, slice) holding the registered history of
  * that exact slice value — a group is a near-identical cluster, so its
  * state is cluster-sized, and a [[groupCap]] caps degenerate hot slices
  * exactly like the batch block caps (q20's `maxBlock`). The fold is
  * SEEN-based, not admitted-based: every document registers (up to the
  * cap) whether or not it was admitted. That choice is what makes the
  * gate relationally replayable — admission depends only on ARRIVAL
  * ORDER, never on prior verdicts, so the replay needs no recursion:
  *
  *   admitted(d) ⟺ ¬∃ e: e.doc_id < d.doc_id, e registered in some band
  *                 group of d (rank ≤ cap), matches(sig_e, sig_d) ≥ 8/16.
  *
  * The declared q173 query IS that replay ([[replayBatch]]): band → rank
  * docs per (band, slice) by doc_id → candidate join (registered × later
  * arrivals) → integer coordinate-match verification (≥ 8 of 16 — τ·perms
  * is exact, no doubles anywhere in the output) → per-doc collider
  * rollup. Stream and replay agree row for row when micro-batches arrive
  * in doc_id order, including across a checkpoint restart (spec-asserted
  * on RocksDB).
  *
  * Scale shape: the stream shuffles each micro-batch once on the band
  * keys (`bands` rows/doc); state totals O(groups × cap × perms) longs
  * where groups are REAL collision clusters — a corpus with no near-dups
  * holds one entry per group. The replay's only shuffles are the band
  * rank/self-join (the q55-audited shape) and the final per-doc rollup;
  * the rank window partitions by (band, slice) — block-sized partitions,
  * never the corpus. */
object NearDupGate {

  val perms = 16
  val bands = 4
  val rows = 4

  /** Integer est-Jaccard threshold: matches ≥ 8 of 16 ⟺ est ≥ 0.5 (q55's
    * τ on the same signature family), exact by construction. */
  val matchMin = 8

  /** Registered docs per (band, slice) group — the streaming twin of the
    * batch block caps: a degenerate slice (near-empty docs) stops
    * accumulating state at `groupCap`; later carriers are still CHECKED
    * against the registered history, just not registered. Mirrored
    * exactly by the replay's rank ≤ cap predicate. */
  val groupCap = 64

  /** The gate's corpus: every sig-bearing doc of the doubled corpus
    * (shifted copies arrive after their originals, so in doc_id order
    * each base admits and its copy is suppressed at est 1.0). */
  def sigDocs(spark: SparkSession, dir: String): Dataset[SigDoc] = {
    import spark.implicits._
    DedupOps.md5SigCorpus(spark, dir, perms = perms).as[SigDoc]
  }

  private[streaming] def matches(a: Seq[Long], b: Seq[Long]): Int =
    a.iterator.zip(b.iterator).count { case (x, y) => x == y }

  /** One band group's fold step, shared by the stream and the spec's
    * cap unit test: check each doc (in doc_id order) against the
    * registered history, then register it if the group has room. */
  def runFold(docs: Seq[SigDoc], state: Seq[SigDoc], band: Int,
              cap: Int = groupCap): (Seq[BandVerdict], Seq[SigDoc]) = {
    var entries = state
    val out = Seq.newBuilder[BandVerdict]
    docs.sortBy(_.doc_id).foreach { d =>
      val colliders = entries.collect {
        case e if matches(e.sig, d.sig) >= matchMin => e.doc_id
      }
      out += BandVerdict(d.doc_id, band, colliders)
      if (entries.size < cap) entries = entries :+ d
    }
    (out.result(), entries)
  }

  /** Stage 1 (stateful): band each doc, fold each (band, slice) group.
    * Emits one [[BandVerdict]] per (doc, band) — all of a doc's verdicts
    * land in the doc's own micro-batch, so the cross-band combine is
    * batch-local ([[admittedOfBatch]]). */
  def gateStream(docs: Dataset[SigDoc]): Dataset[BandVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(d => (0 until bands).map(b =>
        BandRow(b, d.sig.slice(b * rows, b * rows + rows), d.doc_id, d.sig)))
      .groupByKey(r => (r.band, r.bk))
      .flatMapGroupsWithState[GateGroupState, BandVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Int, Seq[Long]), it: Iterator[BandRow],
         state: GroupState[GateGroupState]) =>
          val (out, entries) = runFold(
            it.map(r => SigDoc(r.doc_id, r.sig)).toSeq,
            state.getOption.map(_.entries).getOrElse(Seq.empty), key._1)
          state.update(GateGroupState(entries))
          out.iterator
      }(stateEncoder, implicitly[Encoder[BandVerdict]])
  }

  /** The band history's state encoder (see [[StateEncoders]]). */
  private lazy val stateEncoder: Encoder[GateGroupState] =
    StateEncoders.bound[GateGroupState]

  /** Cross-band combine over ONE micro-batch's stage-1 output (every
    * band verdict of a doc shares its micro-batch): distinct colliders
    * across bands → admitted iff none. Run inside `foreachBatch` (or on
    * the memory-sink table in the spec). */
  def admittedOfBatch(verdicts: DataFrame): DataFrame = {
    val spark = verdicts.sparkSession
    import spark.implicits._
    verdicts
      .select($"doc_id", explode_outer($"colliders").as("collider"))
      .groupBy($"doc_id")
      .agg(
        countDistinct($"collider").as("n_prior_neardups"),
        coalesce(min($"collider"), lit(-1L)).as("first_collider"))
      .select($"doc_id",
        ($"n_prior_neardups" === 0).as("admitted"),
        $"n_prior_neardups", $"first_collider")
  }

  /** Declared q173: the EXACT relational replay of the sequential gate —
    * per sig-bearing corpus doc, the admission verdict, the number of
    * distinct earlier near-dup colliders, and the earliest one. */
  def replayBatch(spark: SparkSession, dir: String): DataFrame =
    replayOver(sigDocs(spark, dir).toDF())

  /** [[replayBatch]]'s core over an arbitrary `(doc_id, sig)` relation —
    * split out so the composed q248 pipeline can replay the gate over
    * its extended corpus. */
  def replayOver(sig: DataFrame): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    val banded = sig.select($"doc_id", $"sig",
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice($"sig", b * lit(rows) + 1, lit(rows)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")
    val registered = banded
      .withColumn("rk", row_number().over(
        Window.partitionBy($"band", $"bk").orderBy($"doc_id")))
      .filter($"rk" <= groupCap)
    val hits = registered.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.bk" === $"y.bk" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a"), $"y.doc_id".as("b"),
        $"x.sig".as("sa"), $"y.sig".as("sb"))
      .dropDuplicates("a", "b")
      .filter(graft.operators.DedupOps.sigMatches($"sa", $"sb", perms)
        >= matchMin)
      .groupBy($"b")
      .agg(count(lit(1)).as("n_prior_neardups"),
        min($"a").as("first_collider"))
    sig.join(hits, sig("doc_id") === hits("b"), "left")
      .select(sig("doc_id"),
        $"n_prior_neardups".isNull.as("admitted"),
        coalesce($"n_prior_neardups", lit(0L)).as("n_prior_neardups"),
        coalesce($"first_collider", lit(-1L)).as("first_collider"))
      .orderBy($"doc_id")
  }
}
