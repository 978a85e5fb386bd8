package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The same corpus in two layouts: `one` is a single flat
  * `documents.parquet` file with one row group and 4500 rows (the fan-out
  * gate fires at local[4]), `multi` a directory of three part files (it
  * never fires). Written once per test JVM. */
object FanOutRegimeSpec {
  lazy val layouts: (String, String) = {
    val (spark, sf) = (graft.TestSpark.spark, graft.TestSpark.sf)
    import spark.implicits._
    val base = Tables.documents(spark, sf).select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    // 9 id-shifted replicas with a per-replica text token, the
    // gen_scale_probe discipline: dedup structure stays per-replica
    // instead of collapsing all replicas into giant clusters
    val big = (0 until 9).map { r =>
      base.select(($"doc_id" + lit(r * 10000000L)).as("doc_id"),
        concat($"text", lit(s" replica$r")).as("text"),
        $"lang", $"source", $"n_chars")
    }.reduce(_ unionByName _)
    val one = java.nio.file.Files.createTempDirectory("graft-fanout-one").toString
    val multi = java.nio.file.Files.createTempDirectory("graft-fanout-multi").toString
    big.coalesce(1).write.mode("overwrite").parquet(s"$one/documents.parquet")
    big.repartition(3).write.mode("overwrite").parquet(s"$multi/documents.parquet")
    // Tables reads a directory too, but only a single file gives it a
    // footer (the fan-out gate, the pinned schema): flatten `one`
    def flatten(dir: String): Unit = {
      val d = new java.io.File(s"$dir/documents.parquet")
      val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
      val tmp = new java.io.File(s"$dir/__one.parquet")
      java.nio.file.Files.move(part.toPath, tmp.toPath)
      d.listFiles().foreach(f => java.nio.file.Files.delete(f.toPath))
      java.nio.file.Files.delete(d.toPath)
      java.nio.file.Files.move(tmp.toPath, new java.io.File(s"$dir/documents.parquet").toPath)
    }
    flatten(one)
    (one, multi)
  }
}

/** Round-18 gate: the dedup chain stores its signature relation in one of
  * two regimes — fanned-out + eager localCheckpoint leaf when the corpus
  * is a single-file single-row-group parquet with ≥1024 rows/core
  * (`Tables.unsplittable`), r17's cache barriers otherwise. The regimes
  * MUST be result-identical: this spec writes the SAME corpus in both
  * layouts (one file → gate ON at local[4] with ≥4096 rows; three files →
  * gate OFF) and compares operator outputs row-for-row. lshScurveAudit is
  * the checkpoint-survival path (its pairs barrier is LAZY, so the sig
  * checkpoint must outlive the early release call that the barrier regime
  * uses to drop its recomputable cache). */
class FanOutRegimeSpec extends SparkSpec {
  private def dirs: (String, String) = FanOutRegimeSpec.layouts

  test("gate: single-file ≥rows-threshold fires, multi-file never does") {
    val (one, multi) = dirs
    assert(Tables.unsplittable(spark, one, "documents"),
      "single-file single-row-group corpus above the row threshold must gate ON")
    assert(!Tables.unsplittable(spark, multi, "documents"),
      "multi-file corpus must gate OFF regardless of size")
    // and the size half: the driver's small fixtures stay below the gate
    assert(!Tables.unsplittable(spark, sf, "documents"),
      "500-row fixture must stay below 1024 rows/core at local[4]")
  }

  test("nearDupKeepers: checkpoint regime ≡ barrier regime") {
    val (one, multi) = dirs
    val a = DedupOps.nearDupKeepers(spark, one).collect().map(_.toString).sorted
    graft.CacheGuard.release()
    val b = DedupOps.nearDupKeepers(spark, multi).collect().map(_.toString).sorted
    graft.CacheGuard.release()
    assert(a.length > 0 && a.sameElements(b))
  }

  test("lshScurveAudit: lazy pairs fill survives the early release (checkpoint regime)") {
    val (one, multi) = dirs
    val a = DedupOps.lshScurveAudit(spark, one).collect().map(_.toString).sorted
    graft.CacheGuard.release()
    val b = DedupOps.lshScurveAudit(spark, multi).collect().map(_.toString).sorted
    graft.CacheGuard.release()
    assert(a.length > 0 && a.sameElements(b))
  }

  test("keeper-audit election: checkpoint regime ≡ barrier regime (q178 carrier)") {
    val (one, multi) = dirs
    val a = DedupOps.containmentJoinKeepers(spark, one).collect().map(_.toString).sorted
    graft.CacheGuard.release()
    val b = DedupOps.containmentJoinKeepers(spark, multi).collect().map(_.toString).sorted
    graft.CacheGuard.release()
    assert(a.length > 0 && a.sameElements(b))
  }

  /** The columns each fan-out exchange's scan reads, on the one-file
    * layout: the exchange must sit directly above the scan (only
    * projections and filters between) and read only what the site
    * selects. */
  private def fannedScans(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        val between = e.child.collect {
          case _: ProjectExec | _: FilterExec | _: FileSourceScanExec => None
          case other => Some(other.nodeName)
        }.flatten
        assert(between.isEmpty, s"fan-out exchange not directly above its scan: $between")
        e.child.collect { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq.sorted }
    }.flatten
  }

  test("perceptualHashes: fanned read below the twin union ≡ plain read") {
    val (one, multi) = dirs
    val fanned = Multimodal.perceptualHashes(spark, one)
    val scans = fannedScans(fanned)
    assert(scans.nonEmpty && scans.forall(_ == Seq("doc_id", "text")), scans)
    val a = fanned.collect().map(_.toString).sorted
    val b = Multimodal.perceptualHashes(spark, multi).collect().map(_.toString).sorted
    assert(a.length > 4500 && a.sameElements(b))
  }

  test("positionalProfile: the 128-rows-per-core token pass fanned ≡ plain") {
    val (one, multi) = dirs
    val fanned = TextAnalysis.positionalProfile(spark, one)
    val scans = fannedScans(fanned)
    assert(scans === Seq(Seq("doc_id", "text")))
    val a = fanned.collect().map(_.toString).sorted
    val b = TextAnalysis.positionalProfile(spark, multi).collect().map(_.toString).sorted
    assert(a.length > 0 && a.sameElements(b))
  }
}
