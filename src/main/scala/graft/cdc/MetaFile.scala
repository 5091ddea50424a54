package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}

/** Tiny-file metadata IO — the ONE implementation behind every
  * single-file fence, pin and registry (the DSv2 sink's epoch fence,
  * [[JoinMv]]'s agg fence, savepoint pins, run-log manifests,
  * [[DynamicPipeline]]'s schema registry) and behind the files inside
  * [[Versions.writeNext]]'s version dirs.
  *
  * Write protocol: content goes to a hidden temp sibling, then
  * delete-existing + rename. Delete+rename is NOT atomic on every
  * filesystem; a crash in the gap leaves NO file, which every caller treats
  * as "not yet written" — costing one redundant idempotent redo on replay,
  * never a torn read (a reader sees either the old complete file, the new
  * complete file, or nothing). Temp names carry a UUID so concurrent
  * writers of the same path never collide on the temp.
  */
private[graft] object MetaFile {

  def write(fs: FileSystem, path: Path, content: String): Unit = {
    fs.mkdirs(path.getParent)
    val tmp = new Path(path.getParent,
      s".${path.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    create(fs, tmp, content)
    if (fs.exists(path)) fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new IllegalStateException(s"meta file write failed: $tmp -> $path")
  }

  /** Write `content` to `path` in place — only where something else makes
    * it visible (a version dir's `_SUCCESS`, [[write]]'s rename). */
  def create(fs: FileSystem, path: Path, content: String): Unit = {
    val out = fs.create(path, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def read(fs: FileSystem, path: Path): Option[String] =
    if (!fs.exists(path)) None else Some(readExisting(fs, path))

  /** The content of a file the caller already knows exists (listed, or
    * inside a committed version) — no existence check. */
  def readExisting(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The run-log manifest codec (`<maxBatch>|run,run,…`) shared by the
    * ordered index ([[OrderedIndex]]) and the term directory
    * ([[graft.ops.Search]]): the batch fence and the live run set in one
    * file. A missing file reads as no batch and no runs. */
  def readRuns(fs: FileSystem, path: Path): (Long, Seq[String]) =
    read(fs, path)
      .map { txt =>
        val Array(maxB, dirs @ _*) = txt.trim.split('|')
        (maxB.toLong,
          dirs.headOption.map(_.split(',').toSeq.filter(_.nonEmpty))
            .getOrElse(Seq.empty))
      }
      .getOrElse((Long.MinValue, Seq.empty))

  def writeRuns(fs: FileSystem, path: Path, maxBatch: Long,
                runs: Seq[String]): Unit =
    write(fs, path, s"$maxBatch|${runs.mkString(",")}")
}
