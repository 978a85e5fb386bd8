package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** A local file system under the scheme "graftt", so the manager's scheme
  * dispatch is tested on a non-`file` path without a cluster. */
class GrafttRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftt:///")
  override def getScheme: String = "graftt"
}

/** The `FileContext` binding of [[GrafttRawFs]]. */
class GrafttFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GrafttRawFs, conf, "graftt", false)

class StreamStartSpec extends SparkSpec {

  private def files(root: JPath): Seq[JPath] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Hadoop's checksummed file systems write `.<name>.crc` next to every
    * file; Spark's own state checksums are `<name>.crc`. */
  private def hadoopSidecar(p: JPath): Boolean = {
    val n = p.getFileName.toString
    n.startsWith(".") && n.endsWith(".crc")
  }

  /** The curation stream over its first 60 docs in three micro-batches:
    * the checkpoint root, the sink's output directory, the caller's
    * file-manager conf before and after the start, and whether the
    * caller's `streams` listed the query. */
  private lazy val curated: (JPath, JPath, Option[String], Option[String], Boolean) = {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val docs = FullCurate.fullDocs(spark, sf).collect().sortBy(_.doc_id).take(60)
    graft.CacheGuard.release()
    val floors = Seq(("none", 0L)).toDF("source", "thr_u4")
    val out = Files.createTempDirectory("graft-ss-out")
    val ckpt = Files.createTempDirectory("graft-ss-ckpt")
    val before = spark.conf.getOption(StreamStart.fileManagerConf)
    val mem = MemoryStream[FullDoc]
    val q = FullCurate.curatedStream(mem.toDS(), floors, out.toString, ckpt.toString)
    val after = spark.conf.getOption(StreamStart.fileManagerConf)
    val listed = spark.streams.get(q.id) != null
    try docs.grouped(20).foreach { b =>
      mem.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    (ckpt, out, before, after, listed)
  }

  test("starting a curation stream leaves the caller's session conf unchanged") {
    val (_, _, before, after, listed) = curated
    assert(before === None)
    assert(after === before)
    // the query runs on the clone, so the caller's `streams` never lists it
    assert(!listed)
  }

  test("a curation stream's checkpoint holds no Hadoop .crc sidecar in offsets/, commits/ or state/") {
    val (ckpt, _, _, _, _) = curated
    val trees = Seq("offsets", "commits", "state").map(ckpt.resolve)
    trees.foreach(t => assert(Files.isDirectory(t), s"missing $t"))
    val written = trees.flatMap(files)
    assert(written.count(_.startsWith(ckpt.resolve("offsets"))) >= 3)
    assert(written.exists(_.getFileName.toString.endsWith(".delta")))
    val sidecars = written.filter(hadoopSidecar)
    assert(sidecars.isEmpty, sidecars.mkString("\n"))
    // state files stay checksummed, by Spark's own checksum files
    val deltas = written.filter(_.getFileName.toString.endsWith(".delta"))
    assert(deltas.forall(d => Files.exists(d.resolveSibling(d.getFileName.toString + ".crc"))))
  }

  test("a curation stream's parquet appends write no Hadoop .crc sidecar, and read back") {
    val (_, out, _, _, _) = curated
    val written = files(out)
    assert(written.exists(_.getFileName.toString.endsWith(".parquet")))
    assert(written.exists(_.getFileName.toString == "_SUCCESS"))
    val sidecars = written.filter(hadoopSidecar)
    assert(sidecars.isEmpty, sidecars.mkString("\n"))
    assert(spark.read.parquet(out.toString).count() > 0)
  }

  test("the manager writes file: paths through the raw local file system and hands other schemes to Spark's default") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("graft-ss-fm")
    val local = new RawLocalCheckpointFileManager(new Path(dir.toUri), conf)
    assert(local.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(local.isLocal)
    // an unqualified path resolves against the default file system, file:
    assert(new RawLocalCheckpointFileManager(new Path("relative/ckpt"), conf)
      .underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    // an atomic create lands the file under its final name, with no sidecar
    // and no temp file left; a second no-overwrite create of it fails
    val target = new Path(dir.toUri.toString, "0")
    def write(b: Int, overwrite: Boolean): Unit = {
      val o = local.createAtomic(target, overwrite)
      o.write(b)
      o.close()
    }
    write(1, overwrite = false)
    assert(files(dir).map(_.getFileName.toString) === Seq("0"))
    intercept[FileAlreadyExistsException](write(2, overwrite = false))
    write(3, overwrite = true)
    assert(Files.readAllBytes(dir.resolve("0")).toSeq === Seq(3.toByte))
    assert(files(dir).filter(hadoopSidecar).isEmpty)

    conf.set("fs.graftt.impl", classOf[GrafttRawFs].getName)
    conf.set("fs.AbstractFileSystem.graftt.impl", classOf[GrafttFs].getName)
    conf.set(StreamStart.fileManagerConf, classOf[RawLocalCheckpointFileManager].getName)
    val other = new RawLocalCheckpointFileManager(new Path("graftt:///tmp/graft-ss"), conf)
    assert(other.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  /** A path's permission bits, sticky bit included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("a curation stream's checkpoint and sink files are 0644 and their directories 0755") {
    val (ckpt, out, _, _, _) = curated
    // the roots are the spec's own temp directories
    val modes = Seq(ckpt, out).flatMap(root =>
      Files.walk(root).iterator().asScala.filter(_ != root)
        .map(p => (Files.isDirectory(p), mode(p)))).toSet
    assert(modes === Set((false, octal("644")), (true, octal("755"))),
      modes.map { case (d, m) => s"dir=$d ${Integer.toOctalString(m)}" }.mkString(", "))
  }

  test("PosixLocalFileSystem sets chmod's mode bits in the JVM, and a sticky bit through Hadoop's own path") {
    def perm(s: String) = new FsPermission(octal(s).toShort)
    val dir = Files.createTempDirectory("graft-ss-chmod")
    val conf = new Configuration()
    val ours = new PosixLocalFileSystem
    ours.initialize(URI.create("file:///"), conf)
    // Hadoop's own raw file system forks `chmod` here (no libhadoop)
    val hadoops = new RawLocalFileSystem
    hadoops.initialize(URI.create("file:///"), conf)
    Seq("644", "755", "640", "600").foreach { m =>
      Seq(true, false).foreach { isDir =>
        val (a, b) = (dir.resolve(s"ours-$m-$isDir"), dir.resolve(s"hadoop-$m-$isDir"))
        Seq(a, b).foreach(p => if (isDir) Files.createDirectory(p) else Files.createFile(p))
        ours.setPermission(new Path(a.toUri), perm(m))
        hadoops.setPermission(new Path(b.toUri), perm(m))
        assert(mode(a) === octal(m), s"$a")
        assert(mode(a) === mode(b), s"$a vs $b")
      }
    }
    // `Files.setPosixFilePermissions` cannot set a sticky bit: it stays set
    // only if the call took Hadoop's path
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    ours.setPermission(new Path(sticky.toUri), perm("1777"))
    assert(mode(sticky) === octal("1777"))
    intercept[java.io.IOException](
      ours.setPermission(new Path(dir.resolve("missing").toUri), perm("644")))
  }
}
