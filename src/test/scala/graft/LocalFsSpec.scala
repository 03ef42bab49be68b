package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingFile

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** The fork-free local filesystem the session pins (`graft.util.LocalFs`):
  * it serves `file:` everywhere the engine reaches the disk, it starts no
  * process on the write paths, and it leaves the same files with the
  * same modes as stock Hadoop.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val local = URI.create("file:///")

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def stockFs(): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(local, new Configuration())
    fs
  }

  private def pinnedFs(): FileSystem = {
    val fs = new ForkFreeLocalFileSystem()
    fs.initialize(local, new Configuration())
    fs
  }

  private def stockFc(): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(local, conf)
  }

  private def pinnedFc(): FileContext = {
    val conf = new Configuration()
    FileContext.getFileContext(new ForkFreeLocalFs(local, conf), conf)
  }

  /** Stack traces of the process starts `body` causes that went through
    * Hadoop's `Shell`, recorded with JFR (`jdk.ProcessStart`). Other
    * suites may start processes meanwhile, so the filter is on the stack.
    */
  private def shellForks(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_jfr", ".jfr")
    val events =
      try { rec.dump(dump); RecordingFile.readAllEvents(dump).asScala.toSeq }
      finally { rec.close(); Files.deleteIfExists(dump): Unit }
    events.flatMap { e =>
      val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
        .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
      if (frames.exists(_.startsWith("org.apache.hadoop.util.Shell")))
        Some(e.getString("command") + " <- " + frames.take(12).mkString(" <- "))
      else None
    }
  }

  test("the pins serve file: through every configuration a session hands out, newSession() too") {
    for (s <- Seq(spark, spark.newSession())) {
      for (conf <- Seq(s.sparkContext.hadoopConfiguration, s.sessionState.newHadoopConf())) {
        assert(FileSystem.get(local, conf).getClass === classOf[ForkFreeLocalFileSystem])
        assert(new Path(tmp("graft_pin")).getFileSystem(conf).getClass ===
          classOf[ForkFreeLocalFileSystem])
        assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass ===
          classOf[ForkFreeLocalFs])
      }
    }
  }

  test("file creates, mkdirs, renames and a streamed index append + compact start no process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tmp("graft_nofork")
    val (tbl, idx) = ("t_localfs_idx", s"$dir/idx")
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val forks = shellForks {
      val fs = FileSystem.get(local, conf)
      fs.mkdirs(new Path(s"$dir/fs/a/b"))
      fs.create(new Path(s"$dir/fs/a/f")).close()
      fs.rename(new Path(s"$dir/fs/a/f"), new Path(s"$dir/fs/a/b/g"))
      val fc = FileContext.getFileContext(local, conf)
      fc.create(new Path(s"$dir/fc/f"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent()).close()
      fc.create(new Path(s"$dir/fc/g"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.rename(new Path(s"$dir/fc/f"), new Path(s"$dir/fc/g"), Options.Rename.OVERWRITE)

      val q = graft.streaming.StreamingIndex.sinkToIndex(
        graft.streaming.StreamingIndex
          .postingsStream(input.toDF().toDF("doc_id", "url", "text", "ingest_t")),
        tbl, idx, s"$dir/ckpt", buckets = 4)
      try {
        input.addData((1L, "u1", "the cat sat", Timestamp.valueOf("2024-01-01 10:00:00")))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingIndex.compact(spark, tbl, idx, buckets = 4)
    }
    assert(spark.table(tbl).select("term").as[String].collect().sorted.toSeq === Seq("cat", "sat"))
    assert(forks.isEmpty, s"${forks.size} process starts, first:\n${forks.take(3).mkString("\n")}")
  }

  /** mode string of every entry under `root`, by relative name */
  private def tree(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_ != base).map { p: JPath =>
      base.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  private val modes: Seq[Option[FsPermission]] =
    None +: Seq(420, 448, 493).map(m => Some(new FsPermission(m.toShort))) // 0644 0700 0755

  private def writeThroughFs(fs: FileSystem, root: String): Unit =
    for ((m, i) <- modes.zipWithIndex) m match {
      case None =>
        fs.create(new Path(s"$root/f$i")).close()
        fs.mkdirs(new Path(s"$root/d$i/sub"))
      case Some(p) =>
        fs.create(new Path(s"$root/f$i"), p, true, 4096, 1.toShort, 1L << 25, null).close()
        fs.mkdirs(new Path(s"$root/d$i/sub"), p)
    }

  private def writeThroughFc(fc: FileContext, root: String): Unit =
    for ((m, i) <- modes.zipWithIndex) {
      val opts = Seq(Options.CreateOpts.createParent()) ++ m.map(Options.CreateOpts.perms(_))
      fc.create(new Path(s"$root/f$i"), EnumSet.of(CreateFlag.CREATE), opts: _*).close()
      fc.mkdir(new Path(s"$root/d$i/sub"), m.getOrElse(FsPermission.getDirDefault), true)
    }

  test("same files, .crc siblings and modes as stock LocalFileSystem and LocalFs") {
    val (stock, pinned) = (tmp("graft_stock"), tmp("graft_pinned"))
    writeThroughFs(stockFs(), s"$stock/fs")
    writeThroughFs(pinnedFs(), s"$pinned/fs")
    writeThroughFc(stockFc(), s"$stock/fc")
    writeThroughFc(pinnedFc(), s"$pinned/fc")
    val (want, got) = (tree(stock), tree(pinned))
    assert(got === want)
    assert(got.keySet.count(_.endsWith(".crc")) === 2 * modes.size) // one per file, both APIs
    assert(got("fs/f2") === "rwx------" && got("fc/d3") === "rwxr-xr-x")
  }

  test("a sticky-bit mode keeps the sticky bit") {
    val sticky = new FsPermission(1005.toShort) // 01755
    for ((fs, root) <- Seq(stockFs() -> tmp("graft_sticky_stock"), pinnedFs() -> tmp("graft_sticky"))) {
      val d = new Path(s"$root/d")
      fs.mkdirs(d)
      fs.setPermission(d, sticky)
      assert(Files.getAttribute(Paths.get(s"$root/d"), "unix:mode").asInstanceOf[Int] % 4096 === 1005)
    }
  }

  private def linkStatus(get: Path => FileStatus, p: Path): Either[Class[_], Seq[Any]] =
    try {
      val s = get(p)
      Right(Seq(s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPath,
        if (s.isSymlink) s.getSymlink else null, s.getPermission))
    } catch { case e: FileNotFoundException => Left(e.getClass) }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a missing path") {
    val root = tmp("graft_links")
    Files.write(Paths.get(s"$root/file"), "x".getBytes)
    Files.createDirectory(Paths.get(s"$root/dir"))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    val (sfs, pfs, sfc, pfc) = (stockFs(), pinnedFs(), stockFc(), pinnedFc())
    for (name <- Seq("file", "dir", "link", "missing")) {
      val p = new Path(s"$root/$name")
      assert(linkStatus(pfs.getFileLinkStatus, p) === linkStatus(sfs.getFileLinkStatus, p), name)
      assert(linkStatus(pfc.getFileLinkStatus, p) === linkStatus(sfc.getFileLinkStatus, p), name)
    }
    val link = pfs.getFileLinkStatus(new Path(s"$root/link"))
    assert(link.isSymlink && link.getSymlink.toUri.getPath === s"$root/file")
    assert(linkStatus(pfs.getFileLinkStatus, new Path(s"$root/missing")) ===
      Left(classOf[FileNotFoundException]))
  }
}
