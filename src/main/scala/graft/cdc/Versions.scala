package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.io.LocalFs

/** The `_SUCCESS`-fenced `v=N` directories every versioned store of the
  * engine keeps: keyed-state buckets (`bucket=B/v=N`), their layout
  * manifest (`_layout/v=N`), the truncate fence (`_truncate/v=N`) and
  * maintained views (`<mv>/v=<batchId>`). A version exists once its
  * `_SUCCESS` marker does; a directory without one is a crash leftover
  * that readers skip and the next writer of that version clears. These
  * are the four steps every such store commits through; which versions a
  * store keeps, and what a missing source means, stay with its caller.
  */
private[graft] object Versions {

  /** Committed version numbers under `dir`, ascending (empty when `dir`
    * does not exist). Through the Hadoop FileSystem API, so versioned
    * state works on HDFS/S3A paths as well as the local filesystem. */
  def list(spark: SparkSession, dir: String): Seq[Long] = {
    val path = new Path(dir)
    val fs = LocalFs.fs(spark, path)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v=") &&
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted
  }

  /** Commit `content` as `dir/v=<latest+1>/<file>`: an uncommitted
    * leftover of that version is cleared first, the `_SUCCESS` marker
    * commits it, and every version below its predecessor is swept. */
  def writeNext(spark: SparkSession, dir: String, file: String,
                content: String): Unit = {
    val fs = LocalFs.fs(spark, dir)
    val next = list(spark, dir).lastOption.getOrElse(-1L) + 1
    val vDir = new Path(s"$dir/v=$next")
    if (fs.exists(vDir)) fs.delete(vDir, true)
    fs.mkdirs(vDir)
    MetaFile.create(fs, new Path(vDir, file), content)
    fs.create(new Path(vDir, "_SUCCESS")).close()
    sweep(spark, dir)(_ < next - 1)
  }

  /** Move a written directory into place as committed version `to`: a
    * stale `to` (an uncommitted leftover, which a rename would nest into)
    * is deleted, the rename is checked, then `_SUCCESS` commits it.
    * `false` when `from` does not exist — nothing was committed. */
  def promote(fs: FileSystem, from: Path, to: Path): Boolean = {
    if (fs.exists(to)) fs.delete(to, true)
    // a local rename of a missing source falls back to a copy, which throws
    val moved =
      try fs.rename(from, to) catch { case _: java.io.FileNotFoundException => false }
    if (!moved) {
      if (fs.exists(from))
        throw new IllegalStateException(s"promote failed: $from -> $to")
      return false
    }
    fs.create(new Path(to, "_SUCCESS")).close()
    true
  }

  /** Commit version `to` with no rows: one schema-carrying empty parquet
    * file, so the version pointer can advance past rows that all died. */
  def writeEmpty(spark: SparkSession, to: Path, schema: StructType): Unit = {
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(to.toString)
    LocalFs.fs(spark, to).create(new Path(to, "_SUCCESS")).close()
  }

  /** Delete the committed versions under `dir` that `drop` selects. */
  def sweep(spark: SparkSession, dir: String)(drop: Long => Boolean): Unit = {
    val fs = LocalFs.fs(spark, dir)
    list(spark, dir).filter(drop)
      .foreach(v => fs.delete(new Path(s"$dir/v=$v"), true))
  }
}
