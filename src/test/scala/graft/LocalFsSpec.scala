package graft

import graft.operators.Sources
import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The fork-free local file system ([[ForkFreeLocalFileSystem]] and
  * [[ForkFreeLocalFs]]) is what a SparkEnv session resolves `file:` to,
  * and it leaves on disk what the stock classes leave: mode bits,
  * checksum sidecars, link status. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    FileUtils.forceDeleteOnExit(d)
    d
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & octal("7777")

  test("a SparkEnv session resolves file: to the fork-free classes, " +
    "in the JVM-wide FileSystem cache too") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[ForkFreeRawLocalFileSystem])
    // a Configuration without the setting hits the same cache entry: a
    // stock class cached before the session would show here (in this JVM
    // the service-loaded default is Hive's ProxyLocalFileSystem)
    assert(FileSystem.getLocal(new Configuration()).getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
  }

  /** Counts of (directory?, checksum sidecar?, mode) over every entry
    * under `root`. */
  private def modes(root: File): Map[(Boolean, Boolean, Int), Int] =
    Files.walk(root.toPath).iterator.asScala.map(_.toFile).filter(_ != root)
      .map(f => (f.isDirectory, f.getName.endsWith(".crc"), mode(f))).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** Runs `body` with `file:` resolved, uncached, to `impl` under umask 027. */
  private def withLocalFs[T](impl: Class[_ <: FileSystem])(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val set = Seq("fs.file.impl" -> impl.getName, "fs.file.impl.disable.cache" -> "true",
      "fs.permissions.umask-mode" -> "027")
    val prev = set.map { case (k, _) => k -> Option(conf.get(k)) }
    set.foreach { case (k, v) => conf.set(k, v) }
    try {
      assert(FileSystem.get(URI.create("file:///"), conf).getClass === impl)
      body
    } finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("a WAP publish writes the mode bits the stock classes write under the same umask") {
    def publish(impl: Class[_ <: FileSystem]): Map[(Boolean, Boolean, Int), Int] = {
      val base = tmp("graft-wap-modes")
      val rows = (1L to 40L).map(k => (k, s"d$k")).toDF("doc_id", "v").repartition(4)
      val audit = withLocalFs(impl)(
        Sources.writeAuditPublishStaged(spark, rows, base.toString, Seq("doc_id"), false, None))
      assert(audit.filter(!col("ok")).isEmpty)
      modes(base)
    }
    val (ours, stock) = (publish(classOf[ForkFreeLocalFileSystem]), publish(classOf[LocalFileSystem]))
    assert(ours === stock)
    // the umask reached the part files and their sidecars
    assert(ours.keySet.contains((false, false, octal("640"))), ours)
    assert(ours.keySet.contains((false, true, octal("640"))), ours)
  }

  /** The fork-free and the stock raw local file system, set up alike. */
  private def raws(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val pair = (new ForkFreeRawLocalFileSystem, new RawLocalFileSystem)
    Seq(pair._1, pair._2).foreach(_.initialize(URI.create("file:///"), conf))
    pair
  }

  test("setPermission ≡ stock chmod on a file, a setgid directory and a sticky bit") {
    val (ours, stock) = raws()
    def after(fs: RawLocalFileSystem, file: Boolean, from: String, to: String): Int = {
      val f = new File(tmp("graft-chmod"), "x")
      if (file) Files.writeString(f.toPath, "x") else assert(f.mkdir())
      new ProcessBuilder("chmod", from, f.toString).start().waitFor()
      assert(mode(f) === octal(from))
      fs.setPermission(new Path(f.toString), new FsPermission(octal(to).toShort))
      mode(f)
    }
    for ((file, from, to) <- Seq((true, "644", "600"), (false, "755", "750"),
        (false, "2755", "750"), (false, "755", "1777"))) {
      val want = after(stock, file, from, to)
      assert(after(ours, file, from, to) === want, s"$from → $to")
    }
  }

  test("a flipped byte in a published part file fails the read with a ChecksumException") {
    val base = tmp("graft-wap-crc")
    val rows = (1L to 2000L).map(k => (k, s"d$k")).toDF("doc_id", "v").coalesce(1)
    assert(Sources.writeAuditPublishStaged(spark, rows, base.toString, Seq("doc_id"), false,
      None).filter(!col("ok")).isEmpty)
    val part = Files.list(Paths.get(s"$base/published")).iterator.asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    assert(Files.exists(part.resolveSibling(s".${part.getFileName}.crc")))
    val bytes = Files.readAllBytes(part)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xFF).toByte
    Files.write(part, bytes)
    val e = intercept[Exception](spark.read.parquet(s"$base/published").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("getFileLinkStatus ≡ stock on a file, a live and a dangling symlink, a missing path") {
    val d = tmp("graft-links")
    val target = new File(d, "target")
    Files.writeString(target.toPath, "x")
    Files.createSymbolicLink(new File(d, "live").toPath, target.toPath)
    Files.createSymbolicLink(new File(d, "dangling").toPath, new File(d, "gone").toPath)
    val (ours, stock) = raws()
    def view(fs: RawLocalFileSystem, p: Path): Any = Try(fs.getFileLinkStatus(p)).map(s =>
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, Try(s.getSymlink).toOption, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner)).recover { case e => e.getClass }.get
    for (name <- Seq("target", "live", "dangling", "gone");
         p <- Seq(new Path(s"$d/$name"), new Path(s"file:$d/$name")))
      assert(view(ours, p) === view(stock, p), p)
    assert(Seq("live", "dangling").forall(n => ours.getFileLinkStatus(new Path(s"$d/$n")).isSymlink))
  }
}
