package graft.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, EqualTo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation,
  LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

import graft.io.LocalFs

/** The serving layer's read of committed version directories (a bucket's
  * `bucket=b/v=N`, an MV's `v=N`): point reads answer from the driver
  * instead of launching a schema-inference job and a collect job.
  *
  *   - The directories' data files are listed (`_`/`.` names skipped, as
  *     Spark's listing does) and their footers read on the driver; the
  *     schema is the footer's Spark row metadata, exactly what Spark's own
  *     inference reads. Files that disagree read through Spark with
  *     `mergeSchema`, like [[ChangelogStream.readState]].
  *   - SIZE RULE: files totalling at most `spark.sql.files.maxPartitionBytes`
  *     are read on the driver — Spark would hand them to ONE scan task, so
  *     no parallelism is given up. Larger reads go through Spark with the
  *     footer schema passed in, so no inference job runs there either.
  *   - Rows come from Spark's own parquet reader
  *     (`buildReaderWithPartitionValues`, row mode), so types, datetime
  *     rebase and time zone handling match the Spark scan; the result is a
  *     DataFrame over a `LocalRelation`. Callers' filters fold into it
  *     (`ConvertToLocalRelation`) and `collect()` runs no job.
  *   - `point` (column → value) is tested while iterating, so the driver
  *     keeps only matching rows; it is a pre-filter, never the caller's
  *     only filter (a pair whose literal type differs from the column's is
  *     left to the caller's filter and its coercion rules).
  */
private[graft] object VersionScan {

  /** The version directories a driver-side read opened, tagged on its
    * `LocalRelation` (see [[openedDirs]]). */
  private val OpenedDirs = TreeNodeTag[Seq[String]]("graft.versionScan.dirs")

  /** Rows of the committed version directories `dirs`, on the driver when
    * they fit the size rule, through Spark otherwise. */
  def read(spark: SparkSession, dirs: Seq[String],
           point: Seq[(String, Any)] = Nil): DataFrame = {
    val conf = LocalFs.hadoopConf(spark)
    val files = dataFiles(conf, dirs)
    commonSchema(spark, conf, files) match {
      case Some(schema)
          if files.map(_.getLen).sum <= spark.sessionState.conf.filesMaxPartitionBytes =>
        onDriver(spark, dirs, files, schema, point)
      case schema => sparkScan(spark, dirs, schema)
    }
  }

  /** A Spark scan of the committed directories `dirs` with the schema read
    * from their footers on the driver, so building the frame starts no
    * schema-inference job. Footers that disagree (buckets written before
    * and after a column was added) read with `mergeSchema`, the union of
    * their columns; above `spark.sql.sources.parallelPartitionDiscovery
    * .threshold` files, Spark's own parallel job merges the footers. */
  def scan(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val conf = LocalFs.hadoopConf(spark)
    val files =
      try dataFiles(conf, dirs)
      catch { case _: java.io.FileNotFoundException => Nil } // Spark's read reports it
    sparkScan(spark, dirs,
      if (files.exists(_.isDirectory) ||
          files.size > spark.sessionState.conf.parallelPartitionDiscoveryThreshold) None
      else commonSchema(spark, conf, files))
  }

  /** Spark's scan of `dirs`: with `schema` when the footers agree on one,
    * with `mergeSchema` (Spark's footer-merge job) otherwise. */
  private def sparkScan(spark: SparkSession, dirs: Seq[String],
                        schema: Option[StructType]): DataFrame = schema match {
    case Some(s) => spark.read.schema(s).parquet(dirs: _*)
    case None => spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** An empty frame in the schema of `dir`'s data files — the answer for a
    * bucket no write has touched. */
  def empty(spark: SparkSession, dir: String): DataFrame = {
    val conf = LocalFs.hadoopConf(spark)
    dataFiles(conf, Seq(dir)).headOption match {
      case Some(f) => local(spark, footerSchema(spark, conf, f), Nil, Nil)
      case None => spark.read.parquet(dir).limit(0)
    }
  }

  /** Every directory a plan reads committed files from: the driver-side
    * reads' tagged dirs and the file relations' root paths. */
  def openedDirs(plan: LogicalPlan): Seq[String] = plan.collect {
    case l: LocalRelation => l.getTagValue(OpenedDirs).getOrElse(Nil)
    case l: LogicalRelation => l.relation match {
      case f: HadoopFsRelation => f.location.rootPaths.map(_.toString)
      case _ => Nil
    }
  }.flatten

  private def dataFiles(conf: Configuration, dirs: Seq[String]): Seq[FileStatus] =
    dirs.flatMap { d =>
      val p = new Path(d)
      p.getFileSystem(conf).listStatus(p).toSeq
    }.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }

  /** The schema every file's footer records, if they agree on one. */
  private def commonSchema(spark: SparkSession, conf: Configuration,
                           files: Seq[FileStatus]): Option[StructType] =
    files.map(footerSchema(spark, conf, _)).distinct match {
      case Seq(s) => Some(s)
      case _ => None
    }

  private def footerSchema(spark: SparkSession, conf: Configuration,
                           f: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // a file scan types every column nullable, whatever the writer recorded
    ColumnBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(f.getPath, meta), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  private def onDriver(spark: SparkSession, dirs: Seq[String], files: Seq[FileStatus],
                       schema: StructType, point: Seq[(String, Any)]): DataFrame = {
    val reader = readerFor(spark, schema)
    val keep = matcher(spark, schema, point)
    val rows = files.flatMap { f =>
      val it = reader(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f),
        0L, f.getLen, Array.empty[String], f.getModificationTime, f.getLen))
      try it.filter(keep).map(_.copy()).toVector
      finally it match {
        case c: java.io.Closeable => c.close()
        case _ => // exhausted: the record reader closed itself
      }
    }
    local(spark, schema, rows, dirs)
  }

  private type Reader = PartitionedFile => Iterator[InternalRow]
  private type ReaderKey = (AnyRef, StructType, Map[String, String])

  /** Built readers by (context, schema, Hadoop configuration). Building one
    * broadcasts the configuration — the largest fixed cost of a point read
    * — so a reader is reused while nothing it captured changed: the
    * session's SQL settings are copied into its Hadoop configuration, so
    * that configuration's entries cover both. */
  private val readers = new java.util.LinkedHashMap[ReaderKey, Reader](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[ReaderKey, Reader]): Boolean =
      size() > 16
  }

  private def readerFor(spark: SparkSession, schema: StructType): Reader = {
    val conf = spark.sessionState.newHadoopConf()
    val key = (spark.sparkContext, schema,
      conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
    readers.synchronized(Option(readers.get(key))).getOrElse {
      val built = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
        schema, new StructType(), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
      readers.synchronized(readers.put(key, built))
      built
    }
  }

  private def local(spark: SparkSession, schema: StructType,
                    rows: Seq[InternalRow], dirs: Seq[String]): DataFrame = {
    val rel = LocalRelation(DataTypeUtils.toAttributes(schema), rows)
    rel.setTagValue(OpenedDirs, dirs)
    ColumnBridge.ofRows(spark, rel)
  }

  /** The `point` pre-filter: equality on each named column whose value's
    * literal type is the column's own type. */
  private def matcher(spark: SparkSession, schema: StructType,
                      point: Seq[(String, Any)]): InternalRow => Boolean = {
    val resolver = spark.sessionState.conf.resolver
    val tests = point.flatMap { case (c, v) =>
      val i = schema.fieldNames.indexWhere(resolver(_, c))
      scala.util.Try(Literal(v)).toOption
        .filter(l => i >= 0 && v != null && l.dataType == schema(i).dataType)
        .map(l => EqualTo(BoundReference(i, l.dataType, nullable = true), l))
    }
    row => tests.forall(_.eval(row) == true)
  }
}
