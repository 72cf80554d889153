package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

import graft.jobs.TableIO
import graft.streaming.ChainedDag

/** graft's local filesystem binding (`graft.fs`): `file://` resolves to
  * it in every session, the write and streaming-commit paths start no
  * child process, and its two in-JVM operations (setPermission,
  * getFileLinkStatus) agree with Hadoop's shell-out versions. */
class LocalFsSpec extends SparkSpec {

  private def scratch(name: String): java.nio.file.Path = {
    val root = Files.createDirectories(Paths.get("/tmp/graft_scratch"))
    Files.createTempDirectory(root, s"localfs_$name")
  }

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("file:// binds graft's FileSystem and FileContext filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[graft.fs.LocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass === classOf[graft.fs.LocalFs])
  }

  test("a table overwrite and a 2-batch streaming drain start no child process") {
    val base = scratch("noproc")
    val curated = s"$base/curated"
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      TableIO.overwrite(spark, spark.range(1000).toDF("id"),
        "graft_localfs_probe")
      val q = ChainedDag.startCuration(spark, 2000, 1000, curated, s"$base/ck")
      assert(q.awaitTermination(180000), "stage 1 did not drain")
    } finally rec.stop()
    val jfr = base.resolve("rec.jfr")
    rec.dump(jfr)
    rec.close()
    // Spark's ArtifactManager `rm -rf`s a dropped session's artifact dir
    // from the JDK Cleaner thread whenever GC collects that session (an
    // earlier suite's, or a streaming query's clone): not this work
    val started = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filterNot(_.getStackTrace.getFrames.asScala.exists(_.getMethod
        .getType.getName.startsWith("org.apache.spark.sql.artifact.")))
      .map(_.getString("command"))
    assert(started.isEmpty, started.mkString("child processes: ", "; ", ""))

    // same work as before: checksums written and verified on read back
    assert(spark.table("graft_localfs_probe").count() === 1000L)
    val tableDir = Paths.get(new URI(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser
        .parseTableIdentifier("graft_localfs_probe")).location.toString))
    assert(Files.list(tableDir).iterator.asScala
      .exists(_.getFileName.toString.matches("\\.part-.*\\.crc")))
    assert(spark.read.parquet(curated).select("offset").distinct().count()
      === 2000L)
    TableIO.dropWithLocation(spark, "graft_localfs_probe")
  }

  test("setPermission sets the mode bits in the JVM; a sticky bit still applies") {
    val fs = init(new graft.fs.RawLocalFileSystem)
    val dir = scratch("perm")
    val f = Files.createFile(dir.resolve("f"))
    fs.setPermission(new Path(f.toString),
      new FsPermission(FsAction.READ_WRITE, FsAction.READ, FsAction.NONE))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
      === "rw-r-----")

    val d = Files.createDirectory(dir.resolve("d"))
    fs.setPermission(new Path(d.toString), new FsPermission(
      FsAction.ALL, FsAction.READ_EXECUTE, FsAction.READ_EXECUTE, true))
    val mode = Files.getAttribute(d, "unix:mode").asInstanceOf[Int]
    assert((mode & 0x3ff) === Integer.parseInt("1755", 8))
  }

  test("getFileLinkStatus agrees with Hadoop's on files, dirs, symlinks and missing paths") {
    val ours = init(new graft.fs.RawLocalFileSystem)
    val stock = init(new org.apache.hadoop.fs.RawLocalFileSystem)
    val dir = scratch("link")
    val file = Files.write(dir.resolve("file"), "twelve bytes".getBytes)
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("gone"))
    def both(p: java.nio.file.Path) = {
      val h = new Path(p.toString)
      (ours.getFileLinkStatus(h), stock.getFileLinkStatus(h))
    }

    val (fOurs, fStock) = both(file)
    assert(!fOurs.isSymlink && !fStock.isSymlink && fOurs.isFile)
    assert(fOurs.getLen === 12L && fOurs.getLen === fStock.getLen)
    assert(fOurs.getModificationTime === fStock.getModificationTime)
    assert(fOurs.getPath === fStock.getPath)

    val (dOurs, dStock) = both(sub)
    assert(dOurs.isDirectory && dStock.isDirectory && !dOurs.isSymlink)

    val (lOurs, lStock) = both(link)
    assert(lOurs.isSymlink && lStock.isSymlink)
    assert(lOurs.getSymlink === lStock.getSymlink)
    assert(lOurs.getSymlink.toUri.getPath === file.toString)

    val (gOurs, gStock) = both(dangling)
    assert(gOurs.isSymlink && gStock.isSymlink)
    assert(gOurs.getSymlink === gStock.getSymlink)

    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
  }
}
