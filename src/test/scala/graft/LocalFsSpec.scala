package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Persistence
import graft.ops.Similarity
import graft.sources.{LocalFs, NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem, Sources}
import graft.streaming.CheckpointRestart
import graft.tables.Tables

/** The engine's no-fork local file system: it leaves the same files,
  * permissions and link statuses as Hadoop's; one lifecycle day
  * (commits, recompaction, vacuum, a streaming tick, a compacted read)
  * starts no permission or link process on its files, and neither do
  * the other writers behind `Tables.write` (a memoized artifact, a
  * round-trip writer, a model's metadata sidecar).
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "022")
    c
  }

  private def initialized[F <: org.apache.hadoop.fs.FileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), conf())
    fs
  }

  private def fileSystems(): (RawLocalFileSystem, RawLocalFileSystem) =
    (initialized(new RawLocalFileSystem), initialized(new NoForkRawLocalFileSystem))

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  private def perms(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** `body`'s result and the command line of every process the JVM
    * started while it ran, from a `jdk.ProcessStart` recording.
    */
  private def processStarts[T](body: => T): (T, Seq[String]) = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val jfr = Files.createTempFile("graft_localfs", ".jfr")
    rec.dump(jfr)
    rec.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => String.valueOf(e.getString("command")))
    Files.delete(jfr)
    (out, commands)
  }

  /** The `chmod`, `readlink`, `ls` and `stat` starts among `commands`
    * that name a path under one of `roots`.
    */
  private def forksOn(commands: Seq[String], roots: String*): Seq[String] =
    commands.filter { c =>
      val exe = c.trim.split("\\s+").head.split('/').last
      Set("chmod", "readlink", "ls", "stat")(exe) && roots.exists(c.contains)
    }

  /** Each file and directory under `root` (relative) with its permissions. */
  private def tree(root: java.nio.file.Path): Map[String, String] =
    Files.walk(root).iterator.asScala.filterNot(_ == root)
      .map(p => root.relativize(p).toString -> perms(p)).toMap

  test("create, mkdirs and setPermission leave Hadoop's permissions under umask 022") {
    val pairs = Seq(
      "raw" -> (initialized(new RawLocalFileSystem), initialized(new NoForkRawLocalFileSystem)),
      "checksummed" -> (initialized(new LocalFileSystem), initialized(new NoForkLocalFileSystem)))
    pairs.foreach { case (kind, (hadoop, noFork)) =>
      val root = Files.createTempDirectory(s"graft_localfs_$kind")
      val trees = Seq("hadoop" -> hadoop, "nofork" -> noFork).map { case (name, fs) =>
        val dir = new Path(root.resolve(s"$name/a/b").toUri)
        assert(fs.mkdirs(dir))
        fs.mkdirs(new Path(dir, "explicit"), octal("700"))
        fs.create(new Path(dir, "default.bin")).close()
        fs.create(new Path(dir, "explicit.bin"), octal("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.create(new Path(dir, "chmod.bin")).close()
        fs.setPermission(new Path(dir, "chmod.bin"), octal("604"))
        tree(root.resolve(name))
      }
      assert(trees(1) == trees(0), kind)
      assert(trees(0)("a/b/explicit") == "rwx------", kind)
      assert(trees(0)("a/b/chmod.bin") == "rw----r--", kind)
      if (kind == "checksummed") assert(trees(0).contains("a/b/.default.bin.crc"))
    }
  }

  test("link status equals Hadoop's for a symlink, a dangling symlink and a file") {
    val (hadoop, noFork) = fileSystems()
    val root = Files.createTempDirectory("graft_localfs_link")
    val target = Files.write(root.resolve("target"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(root.resolve("link"), target)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("missing"))
    def fields(s: FileStatus) =
      (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen,
        s.isDirectory, s.getModificationTime)
    Seq("link", "dangling", "target").foreach { name =>
      val p = new Path(root.resolve(name).toString)
      assert(fields(noFork.getFileLinkStatus(p)) == fields(hadoop.getFileLinkStatus(p)), name)
    }
    assert(noFork.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
  }

  test("a missing path throws FileNotFoundException") {
    val (_, noFork) = fileSystems()
    val missing = new Path(Files.createTempDirectory("graft_localfs_missing").resolve("x").toString)
    intercept[FileNotFoundException](noFork.getFileLinkStatus(missing))
    intercept[FileNotFoundException](noFork.setPermission(missing, octal("644")))
  }

  test("LocalFs.options select the checksummed no-fork file systems") {
    val c = conf()
    LocalFs.options.foreach { case (k, v) => c.set(k, v) }
    val root = Files.createTempDirectory("graft_localfs_fc")
    val fc = FileContext.getFileContext(root.toUri, c)
    assert(fc.getDefaultFileSystem.isInstanceOf[NoForkLocalFs])
    val tmp = new Path(root.resolve("a.tmp").toString)
    val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE))
    out.write(Array[Byte](7, 8))
    out.close()
    fc.rename(tmp, new Path(root.resolve("a").toString))
    assert(Files.isRegularFile(root.resolve(".a.crc")) && !Files.exists(root.resolve(".a.tmp.crc")))
    assert(perms(root.resolve("a")) == "rw-r--r--")
    val fs = new Path(root.toString).getFileSystem(c)
    assert(fs.isInstanceOf[NoForkLocalFileSystem])
    assert(!(fs eq new Path(root.toString).getFileSystem(c)), "the file system cache is bypassed")
  }

  test("one lifecycle day starts no chmod, readlink, ls or stat process on its files") {
    val root = Files.createTempDirectory("graft_localfs_day").toString
    val (log, ckpt, src, sink) = (s"$root/log", s"$root/ckpt", s"$root/src", s"$root/sink")
    val (baseA, baseB) = (s"$root/base_a", s"$root/base_b")
    val orders = Tables.orders(spark, TestSpark.sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val events = Tables.events(spark, TestSpark.sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // yesterday: a committed, compacted log, a drained stream, and today's
    // arrivals written by hand (outside the day)
    Sources.commitBatch(orders, log, "seed")
    Sources.compactLog(spark, log, Seq("o_orderkey"), baseA)
    val mm = events.agg(min("ts"), max("ts")).head()
    val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    events.filter(col("ts") <= mid).coalesce(1).write.parquet(s"$root/arrivals/d0")
    events.filter(col("ts") > mid).coalesce(1).write.parquet(s"$root/arrivals/d1")
    def arrive(day: String): Unit = {
      Files.createDirectories(Paths.get(src))
      Files.list(Paths.get(s"$root/arrivals/$day")).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.copy(f, Paths.get(src, s"$day.parquet"), StandardCopyOption.REPLACE_EXISTING))
    }
    arrive("d0")
    CheckpointRestart.tick(spark, src, sink, ckpt)
    arrive("d1")

    val (rows, commands) = processStarts {
      Sources.recompact(spark, baseA, log, Seq("o_orderkey"), baseB)
      Sources.vacuumLog(spark, log, baseB)
      Sources.commitBatch(orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_orderstatus", lit("F")), log, "insert")
      Sources.commitBatch(orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("P")), log, "labels")
      CheckpointRestart.tick(spark, src, sink, ckpt)
      Sources.readCompacted(spark, baseB, log, Seq("o_orderkey")).collect()
    }
    val forks = forksOn(commands, root)
    info(s"${commands.size} process starts in the day, ${forks.size} on its files")
    assert(forks.isEmpty, s"${forks.size} forks on the day's files, e.g. ${forks.take(3).mkString("; ")}")
    // the day did its work
    assert(rows.length == orders.count())
    assert(Sources.committedIds(sink).nonEmpty)
  }

  test("an artifact, a round-trip and a model-meta write start no chmod, readlink, ls or stat process on their files") {
    val root = Files.createTempDirectory("graft_localfs_writes").toString
    // a dir string no other caller uses, so the memoized index is built here
    val fresh = s"${TestSpark.sf}/./."
    val orders = Tables.orders(spark, TestSpark.sf).select("o_orderkey", "o_totalprice")
    val (index, commands) = processStarts {
      val index = Similarity.pqIndexPath(spark, fresh)
      Sources.writeJson(orders, s"$root/json")
      Persistence.saveMeta(spark, s"$root/model", "all", 0.5, Map("k" -> "v"))
      index
    }
    val forks = forksOn(commands, root, index)
    info(s"${commands.size} process starts in the writes, ${forks.size} on their files")
    assert(forks.isEmpty, s"${forks.size} forks on the written files, e.g. ${forks.take(3).mkString("; ")}")
    // the writes did their work
    assert(Tables.parquet(spark, s"$index/codes").count() == Tables.embeddings(spark, fresh).count())
    assert(Sources.readJson(spark, s"$root/json", orders.schema).count() == orders.count())
    assert(Persistence.loadMeta(spark, s"$root/model").head().getString(0) == "all")
  }
}
