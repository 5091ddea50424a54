package graft.sources

import java.util.{Map => JMap}

import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Driver-side maintainer registry: `.option("maintainer", key)` attaches
  * derived-table maintenance (incremental MVs, secondary indexes — see
  * [[graft.cdc.Pipeline]]) to the sink's epoch commit. The hook receives
  * (previous touched-bucket rows, merged touched-bucket rows, epochId) at
  * [[graft.cdc.ChangelogStream.upsertBatch]]'s beforeCommit fence point —
  * i.e. BEFORE any state bucket version becomes visible, the ordering
  * non-idempotent deltas need. A registry (not an option value) because
  * the hook is driver-side code: the sink's commit already runs on the
  * driver, so nothing here is shipped to executors. */
object ChangelogStateSink {
  import org.apache.spark.sql.DataFrame
  val maintainers = new java.util.concurrent.ConcurrentHashMap[
    String, (DataFrame, DataFrame, Long) => Unit]()
  /** Driver-side POST-commit hooks (`.option("postCommit", key)`): invoked
    * with the epoch id AFTER the epoch's state merge (manifest flipped,
    * maintainer deltas committed) and BEFORE the epoch fence writes — the
    * boundary where every table of a composed pipeline is mutually
    * consistent, which is exactly where a cross-derived savepoint
    * ([[graft.cdc.Pipeline.savepointAll]]) must pin. Ordering makes the
    * hook crash-safe: a crash after the hook but before the fence replays
    * the epoch, re-running the idempotent merge and the (idempotent,
    * re-pinning) hook. */
  val postCommits = new java.util.concurrent.ConcurrentHashMap[
    String, Long => Unit]()
}

/** DataSource V2 WRITE side of the connector — the consumer half of the
  * reference pipeline (`es.go:13-144`: create-on-first-write keyed store,
  * upsert per event, delete as tombstone) as a first-class Spark sink, so
  * `df.writeStream.format("changelog-state")` plans the keyed-state merge
  * through the same DSv2 machinery as any production sink instead of a
  * hand-rolled `foreachBatch`.
  *
  * Split of labor, mirroring the read side's split between tasks and driver:
  *  - executor `DataWriter`s stage the micro-batch's rows as JSON-line
  *    files under `state/_staging/<queryId>/epoch=N/` — one file per task,
  *    named by (partition, task) attempt so retries and speculation never
  *    collide; a task's file becomes visible ONLY by being named in its
  *    commit message (orphans from failed attempts are swept with the
  *    epoch's staging dir);
  *  - the driver `commit(epochId, messages)` reads exactly the staged files
  *    the messages name and runs [[graft.cdc.ChangelogStream.upsertBatch]] —
  *    the bucketed incremental keyed merge (touched-buckets-only rewrite,
  *    `_SUCCESS`-fenced versions) the foreachBatch sink uses, unchanged.
  *
  * Exactly-once: commits are EPOCH-FENCED. A committed epoch records itself
  * in `state/_epochs/<queryId>/latest` (temp-file + rename; epochs commit in
  * ascending order so a single high-water mark is a complete fence — O(1)
  * state, not a marker file per batch). When Spark replays a batch whose
  * sink commit already happened (crash between sink commit and Spark's own
  * commit log write), `commit` sees `epochId <= latest` and does nothing. A
  * crash BETWEEN the state merge and the fence write re-runs the merge on
  * replay, which is harmless because the per-key `max_by(seq)` merge is
  * idempotent. This is the same two-log dance Spark's own file sink does
  * with its `_spark_metadata` log.
  *
  * Scale: staged bytes per epoch ∝ the micro-batch, merge IO ∝ touched
  * buckets (see [[graft.cdc.ChangelogStream]]), fence state is O(1), and
  * the staging dir is deleted at commit — nothing grows with stream
  * lifetime. Schema is caller-supplied (`.option("schema", df.schema.toDDL)`)
  * because a keyed-state sink has no files to infer from before first write
  * — the create-on-first-write contract (`es.go:13-32`).
  */
class ChangelogStateSink extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "changelog-state"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ddl = options.get("schema")
    if (ddl == null) throw new IllegalArgumentException(
      "changelog-state sink requires .option(\"schema\", df.schema.toDDL) " +
        "(a keyed-state sink has nothing to infer a schema from before first write)")
    StructType.fromDDL(ddl)
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ChangelogStateTable(properties.get("path"), schema)
  override def supportsExternalMetadata(): Boolean = true
}

class ChangelogStateTable(path: String, tableSchema: StructType)
    extends Table with SupportsWrite {
  require(path != null, "changelog-state sink requires a path")
  override def name(): String = s"changelog-state($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // session Hadoop conf as a serializable map, exactly like the read side
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val confMap = {
      val it = conf.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    val keyCols = Option(info.options.get("keyCols")).getOrElse("id")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val maintainer = Option(info.options.get("maintainer"))
    val warmHook = Option(info.options.get("warmHook")).forall(_.toBoolean)
    val fullMerge = Option(info.options.get("fullMerge")).exists(_.toBoolean)
    val noTruncate = Option(info.options.get("noTruncate")).exists(_.toBoolean)
    val postCommit = Option(info.options.get("postCommit"))
    val maxBucketBytes = Option(info.options.get("maxBucketBytes")).map(_.toLong)
    val numBuckets = Option(info.options.get("numBuckets")).map(_.toInt)
    // SupportsStreamingUpdateAsAppend (the same marker Kafka/foreach sinks
    // use): Update-mode emissions are just rows to upsert — precisely this
    // sink's per-key max_by(seq) merge — so update IS append here
    new WriteBuilder
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      override def build(): Write =
        new ChangelogStateWrite(path, info.schema(), keyCols, confMap,
          info.queryId(), maintainer, maxBucketBytes, numBuckets, postCommit,
          warmHook, fullMerge, noTruncate)
    }
  }
}

class ChangelogStateWrite(stateDir: String, schema: StructType, keyCols: Seq[String],
                          confMap: Map[String, String], queryId: String,
                          maintainer: Option[String] = None,
                          maxBucketBytes: Option[Long] = None,
                          numBuckets: Option[Int] = None,
                          postCommit: Option[String] = None,
                          warmHook: Boolean = true,
                          fullMerge: Boolean = false,
                          noTruncate: Boolean = false) extends Write {
  override def description(): String = s"ChangelogStateWrite(path=$stateDir, keys=$keyCols)"
  override def toBatch: BatchWrite =
    new ChangelogStateCommitter(stateDir, schema, keyCols, confMap, queryId,
      maintainer, maxBucketBytes, numBuckets, postCommit, warmHook, fullMerge,
      noTruncate)
  override def toStreaming: StreamingWrite =
    new ChangelogStateCommitter(stateDir, schema, keyCols, confMap, queryId,
      maintainer, maxBucketBytes, numBuckets, postCommit, warmHook, fullMerge,
      noTruncate)
}

case class ChangelogStateCommitMessage(files: Seq[String], rows: Long)
    extends WriterCommitMessage

/** One committer serves both write modes: BatchWrite is the epochId = -1
  * case of StreamingWrite (no fence — a batch write is a one-shot merge the
  * caller re-runs deliberately, there is no replay machinery to fence
  * against). */
class ChangelogStateCommitter(stateDir: String, schema: StructType, keyCols: Seq[String],
                              confMap: Map[String, String], queryId: String,
                              maintainer: Option[String] = None,
                              maxBucketBytes: Option[Long] = None,
                              numBuckets: Option[Int] = None,
                              postCommit: Option[String] = None,
                              warmHook: Boolean = true,
                              fullMerge: Boolean = false,
                              noTruncate: Boolean = false)
    extends StreamingWrite with BatchWrite {

  // both parent traits default this true; Scala requires the diamond be
  // resolved explicitly
  override def useCommitCoordinator(): Boolean = true

  private def fs = new org.apache.hadoop.fs.Path(stateDir)
    .getFileSystem(ChangelogConf.toConfiguration(confMap))
  private def stagingRoot = s"$stateDir/_staging/$queryId"
  private def fencePath = new org.apache.hadoop.fs.Path(s"$stateDir/_epochs/$queryId/latest")

  // ---- task-side factories -------------------------------------------------
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new ChangelogStateWriterFactory(stagingRoot, schema, confMap)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ChangelogStateWriterFactory(stagingRoot, schema, confMap)

  // ---- driver-side commit --------------------------------------------------
  // single-file fence via the shared atomic tiny-file protocol
  // (graft.cdc.MetaFile): a crash in the delete+rename gap leaves NO
  // fence, which only causes one redundant (idempotent) re-merge on replay
  private def committedEpoch(): Long =
    graft.cdc.MetaFile.read(fs, fencePath).map(_.trim.toLong)
      .getOrElse(Long.MinValue)

  private def writeFence(epochId: Long): Unit =
    graft.cdc.MetaFile.write(fs, fencePath, epochId.toString)

  private def merge(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case m: ChangelogStateCommitMessage if m.files.nonEmpty => m.files
    }.flatten.toSeq
    if (files.isEmpty) return
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException("no active SparkSession on commit"))
    val batch = spark.read.schema(schema).json(files: _*)
    // a registered maintainer chains derived-table deltas at the merge's
    // beforeCommit point (missing key = fail loudly, not silently skip)
    val hook = maintainer.map { k =>
      val m = ChangelogStateSink.maintainers.get(k)
      if (m == null) throw new IllegalStateException(
        s"changelog-state sink: no maintainer registered under '$k'")
      m
    }
    graft.cdc.ChangelogStream.upsertBatch(batch, stateDir, keyCols,
      beforeCommit = hook.map(h => (prev: org.apache.spark.sql.DataFrame,
        merged: org.apache.spark.sql.DataFrame) => h(prev, merged, epochId)).orNull,
      // .option("maxBucketBytes", n) arms in-place extendible splitting of
      // buckets the stream outgrows (graft.cdc.Buckets)
      maxBucketBytes = maxBucketBytes.getOrElse(Long.MaxValue),
      // .option("numBuckets", n) sizes a FRESH state's layout (power of
      // two, manifest-recorded) — tiny dimension states skip the 16-dir
      // default, huge ones start wide
      initialBuckets = numBuckets.getOrElse(graft.cdc.ChangelogStream.NumBuckets),
      // a registered maintainer means a CHAIN fans out over the shared
      // (prev, merged) caches — warm them in one clean job first (r14,
      // measured on the composed pass; see upsertBatch's doc).
      // .option("warmHook", "false") opts a pass out: the win scales with
      // the chain's fan-out, and a 2-maintainer multi-epoch pass pays the
      // extra job per epoch for little contention relief
      warmHookCache = hook.isDefined && warmHook,
      // .option("fullMerge", "true"): skip the probe job and merge every
      // bucket — ONLY for passes whose batches touch ~every bucket anyway
      // and can never carry TRUNCATE markers: the probe is what collects
      // markers, so the probe-free path cannot commit a fence. The
      // precondition is ENFORCED, not trusted — a marker row under
      // fullMerge raises in the merge plan (upsertBatch, ADVICE r14)
      // instead of silently losing the fence. The warm/merge then pays
      // ONE combined cache fill instead of probe-fill + warm-fill.
      // .option("noTruncate", "true"): the caller asserts a marker-free
      // stream — the FIRST epoch into a fresh state then skips its probe
      // (same enforcement as fullMerge; see upsertBatch's doc)
      fullMerge = fullMerge,
      noTruncate = noTruncate)
  }

  private def dropStaging(epochId: Long): Unit =
    fs.delete(new org.apache.hadoop.fs.Path(s"$stagingRoot/epoch=$epochId"), true)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    if (epochId <= committedEpoch()) { dropStaging(epochId); return } // replayed epoch
    graft.cdc.Materialize.timed("sink commit", s"epoch=$epochId $stateDir") {
      merge(epochId, messages)
      // post-commit hooks run AFTER the merge (every derived table of the
      // epoch committed) and BEFORE the fence — see the registry's doc
      postCommit.foreach { k =>
        val h = ChangelogStateSink.postCommits.get(k)
        if (h == null) throw new IllegalStateException(
          s"changelog-state sink: no postCommit hook registered under '$k'")
        h(epochId)
      }
      writeFence(epochId)
      dropStaging(epochId)
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    dropStaging(epochId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // a batch write has no monotone epoch ids: a maintainer's batchId fence
    // would pin at -1 and silently skip every later delta while the state
    // kept merging (MV divergence), so the combination is rejected outright
    if (maintainer.isDefined) throw new IllegalArgumentException(
      "changelog-state sink: .option(\"maintainer\", ...) requires the " +
        "streaming write path (epoch-fenced commits); a batch write has no " +
        "monotone commit id for the derived-table fence to order on")
    // same contract for postCommit hooks: silently ignoring the option on
    // the batch path would drop the caller's savepoint without a trace
    if (postCommit.isDefined) throw new IllegalArgumentException(
      "changelog-state sink: .option(\"postCommit\", ...) requires the " +
        "streaming write path (there is no epoch boundary to pin at)")
    merge(-1L, messages)
    dropStaging(-1L)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    dropStaging(-1L)
}

class ChangelogStateWriterFactory(stagingRoot: String, schema: StructType,
                                  confMap: Map[String, String])
    extends StreamingDataWriterFactory with DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ChangelogStateDataWriter(
      s"$stagingRoot/epoch=$epochId/part-$partitionId-$taskId.json", schema, confMap)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, -1L)
}

/** Task-side writer: streams rows as JSON-line objects (the connector's wire
  * convention) to one staged file. The file is opened lazily so empty
  * partitions stage nothing, and is only made visible through the commit
  * message — Spark's commit coordinator guarantees at most one task attempt
  * per partition commits, so attempt files never double-apply. */
class ChangelogStateDataWriter(file: String, schema: StructType,
                               confMap: Map[String, String])
    extends DataWriter[InternalRow] {

  private val path = new org.apache.hadoop.fs.Path(file)
  private var out: java.io.OutputStream = _
  private var gen: com.fasterxml.jackson.core.JsonGenerator = _
  private var rows = 0L

  private def ensureOpen(): Unit = if (out == null) {
    val fs = path.getFileSystem(ChangelogConf.toConfiguration(confMap))
    out = fs.create(path, true)
    gen = new JsonFactory().createGenerator(out)
    gen.setRootValueSeparator(null)
  }

  override def write(row: InternalRow): Unit = {
    ensureOpen()
    gen.writeStartObject()
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      // null fields are OMITTED, not written: the commit re-reads with the
      // declared schema, where an absent field IS null — and the
      // multi-table superset envelope is half nulls per row, so explicit
      // nulls doubled the staged bytes the commit's probe then re-parsed
      // (r14)
      if (row.isNullAt(i)) ()
      else f.dataType match {
        case LongType    => gen.writeNumberField(f.name, row.getLong(i))
        case IntegerType => gen.writeNumberField(f.name, row.getInt(i))
        case ShortType   => gen.writeNumberField(f.name, row.getShort(i).toInt)
        case DoubleType  => gen.writeNumberField(f.name, row.getDouble(i))
        case FloatType   => gen.writeNumberField(f.name, row.getFloat(i))
        case BooleanType => gen.writeBooleanField(f.name, row.getBoolean(i))
        case StringType  => gen.writeStringField(f.name, row.getUTF8String(i).toString)
        case d: DecimalType =>
          gen.writeFieldName(f.name)
          gen.writeNumber(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
        case DateType => // days since epoch -> ISO yyyy-MM-dd round-trips exactly
          gen.writeStringField(f.name, java.time.LocalDate.ofEpochDay(row.getInt(i)).toString)
        case TimestampType => // micros since epoch -> ISO instant, parsed back as UTC
          val us = row.getLong(i)
          gen.writeStringField(f.name, java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L).toString)
        case TimestampNTZType => // micros, wall-clock: full-width local ISO round-trips
          val us = row.getLong(i)
          gen.writeStringField(f.name, java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC)
            .format(ChangelogStateDataWriter.NtzFormat))
        case dt => throw new IllegalStateException(
          s"changelog-state sink: unsupported column type $dt for '${f.name}' " +
            "(flatten nested columns before the sink)")
      }
      i += 1
    }
    gen.writeEndObject()
    gen.writeRaw('\n')
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (gen != null) { gen.flush(); gen.close(); out = null }
    ChangelogStateCommitMessage(if (rows > 0) Seq(file) else Nil, rows)
  }

  override def abort(): Unit = {
    close()
    val fs = path.getFileSystem(ChangelogConf.toConfiguration(confMap))
    if (fs.exists(path)) fs.delete(path, false)
  }

  override def close(): Unit =
    if (gen != null) { gen.close(); out = null; gen = null }
}

object ChangelogStateDataWriter {
  /** Fixed-width local-datetime format (LocalDateTime.toString truncates
    * trailing zeros, which Spark's NTZ parser rejects at some widths). */
  val NtzFormat: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
}
