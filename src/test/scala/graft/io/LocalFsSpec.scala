package graft.io

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path}
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.cdc.{ChangelogStream, Materialize}

/** The in-process local filesystem answers exactly as Hadoop's does, and
  * the engine's epoch sessions (and only those) run on it. */
class LocalFsSpec extends AnyFunSuite with SparkSpec {

  private def ours(conf: Configuration = new Configuration()): FileSystem = {
    val fs = new LocalFs
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def hadoops(conf: Configuration = new Configuration()): FileSystem = {
    val c = new Configuration(conf)
    c.setBoolean("fs.file.impl.disable.cache", true)
    FileSystem.getLocal(c)
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.getModificationTime, s.getPermission,
      s.getOwner, s.getGroup, s.isSymlink, if (s.isSymlink) s.getSymlink else null)

  private def tree(): Path = {
    val root = new Path(Files.createTempDirectory("graft-localfs-").toUri)
    val h = hadoops()
    h.mkdirs(new Path(root, "d/e"))
    val out = h.create(new Path(root, "d/f.bin"))
    out.write(Array.fill[Byte](1000)(7)); out.close()
    h.create(new Path(root, "empty")).close()
    h.setPermission(new Path(root, "empty"),
      new org.apache.hadoop.fs.permission.FsPermission("640"))
    root
  }

  test("status and listing fields equal Hadoop's LocalFileSystem on the same tree") {
    val root = tree()
    val (a, b) = (ours(), hadoops())
    for (p <- Seq(root, new Path(root, "d"), new Path(root, "d/e"),
                  new Path(root, "d/f.bin"), new Path(root, "empty")))
      assert(fields(a.getFileStatus(p)) === fields(b.getFileStatus(p)), p)
    for (p <- Seq(root, new Path(root, "d"), new Path(root, "d/f.bin")))
      assert(a.listStatus(p).sortBy(_.getPath.toString).map(fields).toSeq ===
        b.listStatus(p).sortBy(_.getPath.toString).map(fields).toSeq, p)
    // listFiles builds LocatedFileStatus, which copies the permission
    def located(fs: FileSystem) = {
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(fields).toSeq.sortBy(_._1.toString)
    }
    assert(located(a) === located(b))
  }

  test("create and mkdirs set the permissions Hadoop sets, under two umasks") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val root = new Path(Files.createTempDirectory("graft-umask-").toUri)
      def build(fs: FileSystem, side: String): Seq[(String, String)] = {
        val base = new Path(root, side)
        fs.mkdirs(new Path(base, "x/y"))
        fs.create(new Path(base, "x/y/file")).close()
        fs.create(new Path(base, "z/file2")).close() // parents made by create
        Seq("x", "x/y", "x/y/file", "x/y/.file.crc", "z", "z/file2").map { rel =>
          rel -> java.nio.file.attribute.PosixFilePermissions.toString(
            Files.getPosixFilePermissions(java.nio.file.Paths.get(new Path(base, rel).toUri)))
        }
      }
      val got = build(ours(conf), "ours")
      assert(got === build(hadoops(conf), "hadoop"), umask)
      assert(got.find(_._1 == "x/y/file").get._2 ===
        (if (umask == "022") "rw-r--r--" else "rw-------"))
    }
  }

  test("link status of a symlink and of a plain file equals Hadoop's") {
    val root = tree()
    val link = new Path(root, "link")
    Files.createSymbolicLink(java.nio.file.Paths.get(link.toUri),
      java.nio.file.Paths.get(new Path(root, "d/f.bin").toUri))
    val (a, b) = (ours(), hadoops())
    // Hadoop resolves the link only for a scheme-less path (it reads the
    // link through `new File(path.toString)`); both forms must agree
    val bare = Path.getPathWithoutSchemeAndAuthority(link)
    for (p <- Seq(link, bare, new Path(root, "d/f.bin"), new Path(root, "d")))
      assert(fields(a.getFileLinkStatus(p)) === fields(b.getFileLinkStatus(p)), p)
    assert(a.getFileLinkStatus(bare).isSymlink)
  }

  test("bytes count into the file scheme's storage statistics") {
    val h = hadoops() // registers the scheme's statistics if nothing has yet
    val stats = FileSystem.getGlobalStorageStatistics.get("file")
    def written = stats.getLong("bytesWritten").longValue
    def read = stats.getLong("bytesRead").longValue
    val root = new Path(Files.createTempDirectory("graft-stats-").toUri)
    def roundTrip(fs: FileSystem, name: String): (Long, Long) = {
      val (w0, r0) = (written, read)
      val p = new Path(root, name)
      val out = fs.create(p)
      out.write(Array.fill[Byte](5000)(1)); out.close()
      val in = fs.open(p)
      try while (in.read() >= 0) {} finally in.close()
      (written - w0, read - r0)
    }
    val (hw, hr) = roundTrip(h, "h")
    val (ow, or) = roundTrip(ours(), "o")
    assert(hw >= 5000 && hr >= 5000)
    assert((ow, or) === ((hw, hr)))
  }

  /** The chmod/ls/readlink launches while `body` runs, from an in-process
    * flight recording of process starts only. */
  private def shellLaunches(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft-launches-", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq.map(_.getString("command"))
        .filter { c =>
          val exe = c.trim.split("\\s+").head
          Set("chmod", "ls", "readlink").contains(exe.substring(exe.lastIndexOf('/') + 1))
        }
    } finally { r.close(); Files.deleteIfExists(f) }
  }

  /** The shell launches of one hooked keyed upsert (a second batch, so
    * merge, promote, manifest flip and an MV delta all write) in `s`. */
  private def hookedUpsert(s: SparkSession, work: String): Seq[String] = {
    import s.implicits._
    val stateDir = s"$work/state"
    val mvDir = s"$work/mv"
    def batch(seq0: Long) = (1L to 40L).map(i => (i, seq0 + i, "INSERT", s"g${i % 3}", i * 2))
      .toDF("id", "seq", "op", "g", "v")
    def hook(batchId: Long)(prev: org.apache.spark.sql.DataFrame,
                           merged: org.apache.spark.sql.DataFrame): Unit = {
      def contrib(df: org.apache.spark.sql.DataFrame, sign: Int) = df
        .filter(col("op") =!= "DELETE")
        .select(col("g"), lit(sign.toLong).as("n"),
          (col("v").cast("decimal(18,4)") * sign).cast(Materialize.SType).as("s"))
      Materialize.commitDeltaRows(s, mvDir, batchId,
        contrib(merged, 1).unionByName(contrib(prev, -1)), Seq("g"))
    }
    ChangelogStream.upsertBatch(batch(0L), stateDir, beforeCommit = hook(0L))
    shellLaunches(
      ChangelogStream.upsertBatch(batch(100L), stateDir, beforeCommit = hook(1L)))
  }

  test("an epoch session's hooked upsert starts no chmod/ls/readlink; the shared session is unbound") {
    val epoch = Materialize.sessionWithParts(spark, 8)
    assert(LocalFs.isBound(epoch))
    assert(!LocalFs.isBound(spark))
    assert(LocalFs.hadoopConf(spark) eq spark.sparkContext.hadoopConfiguration)
    assert(FileContext.getFileContext(java.net.URI.create("file:///"),
      epoch.sessionState.newHadoopConf()).getDefaultFileSystem.isInstanceOf[LocalAfs])
    assert(hookedUpsert(epoch,
      Files.createTempDirectory("graft-launch-epoch-").toString) === Nil)
    // the same call in the caller's session stays on Hadoop's filesystem,
    // which forks per file wherever libhadoop is missing
    assert(!FileSystem.get(spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFs])
    val shared = hookedUpsert(spark,
      Files.createTempDirectory("graft-launch-shared-").toString)
    if (!NativeIO.isAvailable) assert(shared.nonEmpty)
  }
}
