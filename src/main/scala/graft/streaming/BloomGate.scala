package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables
import graft.functions.TextFunctions.{fingerprint, md5Hash32}

/** A document arriving on the dedup stream: key = source, content =
  * fingerprint, arrival order = doc_id. */
case class StreamDoc(source: String, doc_id: Long, fp: String)

case class GateVerdict(source: String, doc_id: Long, emitted: Boolean)

/** Streaming Bloom dedup gate — the BOUNDED-state form of exact streaming
  * dedup: `dropDuplicatesWithinWatermark` holds one state row per key and
  * ages it out, but an unbounded-retention dedup stream must either grow
  * state forever (exact) or cap it with a sketch. This operator holds one
  * m-bit Bloom PER SOURCE in `GroupState` (m/32 words — fixed bytes per
  * key no matter how many documents pass) and emits only documents whose
  * fingerprint is not yet (maybe-)present. The price is false POSITIVES:
  * a unique document can be swallowed; never the reverse.
  *
  * The sequential insert-then-test semantics have an EXACT relational
  * form, which is what the declared q94 query runs and the DuckDB oracle
  * replays: processing in doc_id order, a Bloom position is already set
  * for document d iff the FIRST document hashing to that position
  * precedes d — so `n_covered = count(first_setter < d)` over the
  * document's k positions, and d is suppressed iff all k are covered.
  * (Inserting a suppressed document's bits changes nothing — its bits
  * are covered by definition — so the replay needs no sequential state
  * at all.) The streaming fold and the relational replay agree row for
  * row when batches arrive in doc_id order (spec-asserted).
  *
  * Scale shape of the replay: one groupBy(source, pos) min — shuffle
  * O(corpus × k) on small integer keys — one join back, one per-doc
  * reduce. The streaming form shuffles each micro-batch once on source
  * and holds O(sources × m/32) total state. Hash family shared with q74
  * (`md5(fp#j) % m`, 32-bit words).
  */
object BloomGate {

  val mBits = 1024L
  val kHashes = 3
  private[streaming] val words = (mBits / 32).toInt

  /** The gated corpus: documents plus id-shifted copies (the
    * [[graft.operators.DedupOps.dupCorpus]] convention) so every source's
    * stream contains genuine re-arrivals to suppress. */
  def gatedDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"source", $"doc_id", fingerprint($"text").as("fp"))
    base.unionByName(base.withColumn("doc_id", $"doc_id" + 100000L))
  }

  /** EXACT relational replay of the sequential gate (the declared q94
    * query): emitted, exact-first, and the false-drop audit per doc. */
  def bloomReplayBatch(spark: SparkSession, dir: String,
                       m: Long = mBits, k: Int = kHashes): DataFrame =
    bloomReplayOver(gatedDocs(spark, dir), m, k)

  /** [[bloomReplayBatch]]'s core over an arbitrary `(source, doc_id,
    * fp)` relation — split out so the composed q248 pipeline can replay
    * the gate over its extended corpus (the [[graft.operators.DedupOps
    * .setSimJoinOver]] convention). */
  def bloomReplayOver(docs: DataFrame,
                      m: Long = mBits, k: Int = kHashes): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pos = docs.select($"source", $"doc_id", $"fp",
      explode(transform(sequence(lit(0), lit(k - 1)),
        j => md5Hash32(concat($"fp", lit("#"), j.cast("string"))) % m))
        .as("pos"))
    val firstSetter = pos.groupBy($"source", $"pos")
      .agg(min($"doc_id").as("first_doc"))
    val covered = pos.join(firstSetter, Seq("source", "pos"))
      .select($"source", $"doc_id", $"fp",
        when($"first_doc" < $"doc_id", 1L).otherwise(0L).as("cov"))
      .groupBy($"source", $"doc_id", $"fp")
      .agg(sum($"cov").as("n_cov"))
    val firstFp = docs.groupBy($"source", $"fp")
      .agg(min($"doc_id").as("first_fp_doc"))
    covered.join(firstFp, Seq("source", "fp"))
      .select($"doc_id", $"source",
        ($"n_cov" < k).as("emitted"),
        ($"doc_id" === $"first_fp_doc").as("exact_first"),
        ($"n_cov" === k && $"doc_id" === $"first_fp_doc").as("false_drop"))
      .orderBy($"doc_id")
  }

  /** Bloom SIZING sweep (q239) — the measured answer to "how many bits
    * per source does the q94/q166 gate need": the exact first-setter
    * replay run at several filter sizes IN ONE PASS (m rides the
    * position explode as a dimension), reporting per m the emitted
    * count, the unique documents falsely swallowed (the gate's only
    * error mode), and the false-drop rate in bp. The m grid brackets
    * the production default [[mBits]]; the curve is the capacity-
    * planning artifact (fp ≈ (1−e^{−kn/m})^k analytically, but the
    * engine reports the MEASURED rate — no transcendental crosses an
    * engine boundary).
    *
    * Scale shape: one corpus scan exploded to |ms|·k position rows,
    * first-setter groupBy on (m, source, pos) small keys, one join
    * back, O(|ms|) output. */
  def bloomSweep(spark: SparkSession, dir: String,
                 ms: Seq[Long] = Seq(64L, 512L, 4096L),
                 k: Int = kHashes): DataFrame = {
    import spark.implicits._
    val docs = gatedDocs(spark, dir)
    val mdf = ms.toDF("m")
    val pos = docs.crossJoin(broadcast(mdf))
      .select($"m", $"source", $"doc_id", $"fp",
        explode(transform(sequence(lit(0), lit(k - 1)),
          j => md5Hash32(concat($"fp", lit("#"), j.cast("string"))) % $"m"))
          .as("pos"))
    val firstSetter = pos.groupBy($"m", $"source", $"pos")
      .agg(min($"doc_id").as("first_doc"))
    val covered = pos.join(firstSetter, Seq("m", "source", "pos"))
      .select($"m", $"source", $"doc_id", $"fp",
        when($"first_doc" < $"doc_id", 1L).otherwise(0L).as("cov"))
      .groupBy($"m", $"source", $"doc_id", $"fp")
      .agg(sum($"cov").as("n_cov"))
    val firstFp = docs.groupBy($"source", $"fp")
      .agg(min($"doc_id").as("first_fp_doc"))
    covered.join(firstFp, Seq("source", "fp"))
      .groupBy($"m")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_cov" < k, 1L).otherwise(0L)).as("n_emitted"),
        sum(when($"doc_id" === $"first_fp_doc", 1L).otherwise(0L))
          .as("n_unique"),
        sum(when($"n_cov" === k && $"doc_id" === $"first_fp_doc", 1L)
          .otherwise(0L)).as("n_false_drops"))
      .select($"m", $"n_docs", $"n_emitted", $"n_unique", $"n_false_drops",
        expr("n_false_drops * 10000 div n_unique").as("false_drop_bp"))
      .orderBy($"m")
  }

  private val md5 = ThreadLocal.withInitial(() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Scala twin of `TextFunctions.md5Hash32` for the stateful fold: the
    * first 4 md5 bytes as an unsigned big-endian int, which is what
    * parsing the first 8 hex chars base-16 yields. */
  private[streaming] def h32(s: String): Long = {
    val d = md5.get.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  private def positions(fp: String, m: Long, k: Int): Seq[Int] =
    (0 until k).map(j => (h32(s"$fp#$j") % m).toInt)

  /** One source's fold step, shared by batch-of-one and streaming: test
    * all k bits, then set them; returns verdicts + advanced words. */
  def runFold(docs: Seq[StreamDoc], state: Vector[Int],
              m: Long = mBits, k: Int = kHashes): (Seq[GateVerdict], Vector[Int]) = {
    var w = state
    val out = Seq.newBuilder[GateVerdict]
    docs.sortBy(_.doc_id).foreach { d =>
      val ps = positions(d.fp, m, k)
      val member = ps.forall(p => (w(p / 32) & (1 << (p % 32))) != 0)
      out += GateVerdict(d.source, d.doc_id, !member)
      ps.foreach(p => w = w.updated(p / 32, w(p / 32) | (1 << (p % 32))))
    }
    (out.result(), w)
  }

  /** Streaming mode: per-source Bloom words in `GroupState`. Feeding
    * micro-batches in doc_id order reproduces [[bloomReplayBatch]]'s
    * emitted column exactly (spec-asserted). */
  def gateStream(docs: Dataset[StreamDoc],
                 m: Long = mBits, k: Int = kHashes): Dataset[GateVerdict] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Vector[Int], GateVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[StreamDoc], state: GroupState[Vector[Int]]) =>
          val (out, w) = runFold(it.toSeq,
            state.getOption.getOrElse(Vector.fill(words)(0)), m, k)
          state.update(w)
          out.iterator
      }(stateEncoder, implicitly[Encoder[GateVerdict]])
  }

  /** The Bloom words' state encoder (see [[StateEncoders]]). */
  private lazy val stateEncoder: Encoder[Vector[Int]] = StateEncoders.bound[Vector[Int]]
}
