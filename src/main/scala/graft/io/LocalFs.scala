package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files, Paths}
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem with its permission calls made in-process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` starts an OS
  * process for every permission it sets or reads: a `chmod` per created
  * file and directory (its `.crc` sibling included), an `ls -ld` per
  * status whose permission is read (every `listFiles` entry, since a
  * `LocatedFileStatus` copies it) and a `readlink` per link status (every
  * `FileContext` rename). Each launch costs about 3 ms, paid per file at
  * every epoch whatever the epoch's size. This class keeps Hadoop's
  * behaviour and answers those calls through `java.nio`:
  *
  *   - `setPermission` sets the same 9 bits (Hadoop has already applied
  *     its umask) with `Files.setPosixFilePermissions`; a sticky bit,
  *     which that call cannot set, goes to Hadoop's `chmod`.
  *   - `getFileStatus`/`listStatus` return Hadoop's own status fields;
  *     permission, owner and group load lazily from the path's attributes,
  *     links followed (Hadoop runs `ls -ld` on the canonical path).
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus` (what Hadoop returns for it, minus the `readlink`).
  *   - Bytes count into the `file` scheme's storage statistics, the ones
  *     `FileSystem.getGlobalStorageStatistics` reports.
  */
class RawLocalFs extends RawLocalFileSystem {

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    // the statistics `FileSystem.initialize` registered are keyed by this
    // subclass, and the global `file` entry stays Hadoop's: count there
    statistics = FileSystem.getStatistics(getUri.getScheme, classOf[RawLocalFileSystem])
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission))

  override def getFileStatus(f: Path): FileStatus = LocalFs.lazyStatus(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(LocalFs.lazyStatus)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem over [[RawLocalFs]]: `.crc` files are
  * written and verified exactly as by Hadoop's `LocalFileSystem`. */
class LocalFs extends LocalFileSystem(new RawLocalFs)

/** The `FileContext` binding of [[RawLocalFs]] (Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs` over the in-process class).
  * Spark's streaming checkpoint manager writes the offset and commit logs
  * through `FileContext`. */
class RawLocalAfs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new RawLocalFs, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` binding (Hadoop's `fs.local.LocalFs`). */
class LocalAfs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalAfs(uri, conf))

object LocalFs {

  /** What binds `file:` to [[LocalFs]] in a configuration. Hadoop caches
    * one `file:` FileSystem per user whatever its class, and that instance
    * exists as soon as the context starts, so the binding also disables
    * the cache for the scheme (an uncached `FileSystem.get` of the local
    * filesystem costs tens of microseconds). */
  private val Binding = Seq(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalAfs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The in-process calls need the `unix` attribute view (POSIX hosts). */
  private val supported =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** Binds `file:` in `session`'s configuration — what its Spark reads and
    * writes, streaming checkpoints and [[hadoopConf]] handles use. Other
    * schemes and other sessions are untouched. */
  def bind(session: SparkSession): Unit =
    if (supported) Binding.foreach { case (k, v) => session.conf.set(k, v) }

  /** Whether `spark` carries the binding. Read with a default: an unset
    * key costs `conf.getOption` a thrown exception, and unbound sessions
    * (serving reads) ask on every FileSystem handle. */
  def isBound(spark: SparkSession): Boolean =
    spark.sessionState.conf.getConfString("fs.file.impl", null) == classOf[LocalFs].getName

  /** The Hadoop configuration for the engine's own FileSystem handles in
    * `spark`: the context's configuration with the session's `file:`
    * binding when it carries one, the context's own otherwise. */
  def hadoopConf(spark: SparkSession): Configuration = {
    val base = spark.sparkContext.hadoopConfiguration
    if (!isBound(spark)) base
    else {
      val c = new Configuration(base)
      Binding.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  def fs(spark: SparkSession, p: Path): FileSystem = p.getFileSystem(hadoopConf(spark))

  def fs(spark: SparkSession, p: String): FileSystem = fs(spark, new Path(p))

  private[io] def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort & 0x1ff
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE, i.e. the
    // mode bits from 0400 down to 0001
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }

  private[io] def lazyStatus(s: FileStatus): FileStatus = s match {
    case l: LazyStatus => l
    case _ => new LazyStatus(s)
  }

  /** Hadoop's status fields with permission, owner and group read on first
    * use — as Hadoop's local status loads them, through `stat` instead of
    * `ls -ld`. The mode keeps the 9 permission bits and the sticky bit,
    * what Hadoop parses out of the `ls` line. */
  private final class LazyStatus(s: FileStatus) extends FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getAccessTime,
      null, null, null, s.getPath) {
    @volatile private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        val a = Files.readAttributes(Paths.get(getPath.toUri), "unix:mode,owner,group")
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}
