package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type => PType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.operators.{LakeFs, Snapshots}

/** Streaming READ of a versioned snapshot append log — the Delta-
  * streaming-source shape on top of operators.Snapshots' marker
  * protocol: `spark.readStream.format("graftsnap").load(root)` tails
  * the table, delivering each committed version exactly once.
  *
  * Offsets ARE version numbers: `latestOffset` is the newest committed
  * version, and a micro-batch (start, end] reads the data files of the
  * committed versions in that window (Snapshots.streamWindow —
  * tombstone key-batches skipped, compaction bases skipped once the
  * stream is past its first batch because they rewrite rows the stream
  * already emitted; a FRESH stream on a compacted log starts at the
  * newest base, the initial-snapshot batch). Versions are immutable
  * after their commit marker, so a replayed batch re-plans the exact
  * same files — the deterministic-replay half of exactly-once; the
  * engine's offset WAL is the other half.
  *
  * Scale shape: offset resolution is one O(versions) driver listing
  * per trigger (no data reads); each batch fans out one InputPartition
  * per parquet data file, decoded ON THE EXECUTOR via parquet-hadoop
  * (footer → row groups → materialized records), with column pruning
  * pushed into the record assembly — a `select(k)` never materializes
  * the other columns' pages. Flat primitive schemas (the ingest-log
  * shape this engine's streaming publishers write): long / int /
  * double / float / boolean / string / binary / timestamp (INT64
  * micros or millis, normalized per file to Spark's internal
  * micros); other logical annotations surface as their physical
  * primitive.
  *
  * Mirrors the write side (StreamOps.snapshotIngest publishes a
  * version per epoch) the way the reference's chat loop re-reads its
  * store each turn (conversadocs/bones.py:92-96) — here the re-read is
  * an incremental, checkpointed tail instead of a full reload. */
class SnapshotStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftsnap"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotStreamTable.inferSchema(options.get("path"))

  /** Writes carry the query's own schema (so a streaming sink can
    * BOOTSTRAP a fresh root — no committed footer to infer from yet);
    * reads without a user schema still resolve via [[inferSchema]]. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotStreamTable(properties.get("path"), schema)
}

object SnapshotStreamTable {
  /** Schema = the newest committed DATA version's parquet footer
    * schema, mapped through the flat-primitive subset. One footer
    * read. Delete-metadata batches (key tombstones, position-delete
    * vectors) are NOT data — their (key…)/(_file,_pos) footers must
    * never become the table schema, so inference walks past them to
    * the newest true data version (r14: surfaced the moment
    * publishPositionDeletes landed as the newest version). */
  def inferSchema(root: String): StructType = {
    require(root != null, "graftsnap requires a path")
    val v = Snapshots.latestDataVersion(root).getOrElse(sys.error(
      s"graftsnap: no committed data version in $root — publish first"))
    val file = dataFiles(s"$root/v=$v").headOption.getOrElse(sys.error(
      s"graftsnap: committed v=$v in $root holds no parquet data files"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), LakeFs.hadoopConf))
    val msg = try reader.getFooter.getFileMetaData.getSchema
    finally reader.close()
    StructType(msg.getFields.toArray.map {
      case t: PType => toSparkField(t)
    }.toIndexedSeq)
  }

  private def toSparkField(t: PType): StructField = {
    require(t.isPrimitive,
      s"graftsnap streams flat primitive schemas; field '${t.getName}' " +
        "is nested — flatten before publishing to a streamed log")
    val p = t.asPrimitiveType()
    val dt = p.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT64 =>
        p.getLogicalTypeAnnotation match {
          case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            TimestampType // micros or millis; reader normalizes
          case _ => LongType
        }
      case PrimitiveTypeName.INT32 => IntegerType
      case PrimitiveTypeName.DOUBLE => DoubleType
      case PrimitiveTypeName.FLOAT => FloatType
      case PrimitiveTypeName.BOOLEAN => BooleanType
      case PrimitiveTypeName.BINARY =>
        if (p.getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.stringType()) StringType
        else BinaryType
      case PrimitiveTypeName.INT96 => sys.error(
        s"graftsnap: '${t.getName}' is a deprecated INT96 timestamp — " +
          "write the log with spark.sql.parquet.outputTimestampType=" +
          "TIMESTAMP_MICROS (GraftSession's default)")
      case other => sys.error(
        s"graftsnap: unsupported parquet type $other for '${t.getName}'")
    }
    // ALWAYS nullable, whatever this file's repetition says: the
    // schema is inferred from the NEWEST version's footer, but under
    // log schema evolution any column can be absent from older files
    // in the same read window — those rows null-fill, and a
    // non-nullable StructField would make Spark's codegen read the
    // null slot as 0/false/garbage instead of NULL
    StructField(t.getName, dt, nullable = true)
  }

  /** Parquet data files of a version dir (markers, manifests, and
    * _SUCCESS excluded), deterministic order. Shallow-clone versions
    * resolve to their source data dirs first (Snapshots.dataDirs), so
    * the graftsnap batch/stream connectors read clones natively. */
  def dataFiles(dir: String): Seq[String] =
    graft.operators.Snapshots.dataDirs(dir).flatMap(dataFilesRaw).sorted

  private[graft] def dataFilesRaw(dir: String): Seq[String] =
    LakeFs.list(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath.toString).sorted
}

class SnapshotStreamTable(root: String, schema0: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(root != null, "graftsnap requires a path")
  override def name(): String = s"graftsnap:$root"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotStreamScanBuilder(root, schema0, options)

  /** BATCH WRITE through the snapshot protocol (the V1 bridge — the
    * df lands via the Snapshots publish APIs, whose marker create is
    * the atomic commit point): `mode("append")` publishes one new
    * committed version (Snapshots.publishAppend); `mode("overwrite")`
    * publishes a base version that REPLACES the readable window
    * (Snapshots.publishReplace) with history below still
    * time-travelable. Writing to a root that has no committed version
    * yet is Snapshots.publishAppend's job directly — the provider
    * infers its schema from the newest committed footer, so a
    * path-only write cannot bootstrap a table. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replace = false
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        replace = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (df: org.apache.spark.sql.DataFrame, _: Boolean) => {
              if (replace) Snapshots.publishReplace(df, root)
              else Snapshots.publishAppend(df, root)
              ()
            }
          /** STREAMING WRITE — `df.writeStream.format("graftsnap")
            * .start(root)`: each epoch lands as one committed log
            * version through Snapshots.commitStagedEpoch, under the
            * epoch guard it shares with Snapshots.publishEpoch: the
            * in-version epoch tag closes even the crash window between
            * version marker and epoch hint (exactly-once with no
            * residual gap). Tasks write parquet straight
            * into the root's staging area; the driver commit is
            * pure renames + markers. Append mode only — Complete/
            * Update would have to rewrite the readable window per
            * epoch, which is a batch overwrite's job. */
          override def toStreaming: org.apache.spark.sql.connector.write
              .streaming.StreamingWrite = {
            if (replace) throw new UnsupportedOperationException(
              "graftsnap streaming write supports append mode only")
            // a user-supplied streamId is REJECTED when invalid, not
            // sanitized: mapping "job.1" and "job 1" both to "job-1"
            // would collide two fan-in streams on one epoch scope and
            // silently swallow each other's batches (the default
            // query-id scope is a UUID — already in the alphabet)
            val scope = Option(info.options.get("streamid")) match {
              case Some(sid) =>
                require(sid.matches("[A-Za-z0-9_-]+"),
                  s"streamId must be [A-Za-z0-9_-]+: '$sid'")
                sid
              case None =>
                info.queryId().replaceAll("[^A-Za-z0-9_-]", "-")
            }
            new GraftsnapStreamingWrite(root, info.schema(), scope)
          }
        }
    }
}

/** Driver half of the graftsnap streaming sink: per epoch, tasks
  * stage `part-<partition>-<task>.parquet` files under
  * `root/_stage_<scope>/<epoch>/` (task ids are attempt-unique, so
  * speculative/retried attempts never collide; only files named by
  * the driver's commit messages are ever published), and commit folds
  * them into one committed log version via
  * [[graft.operators.Snapshots.commitStagedEpoch]]. The scope
  * defaults to the streaming query id (stable across restarts — it
  * lives in the checkpoint), overridable with `.option("streamId",…)`
  * for multi-query fan-in naming. */
class GraftsnapStreamingWrite(root: String, schema: StructType,
    scope: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private def stageDir(epoch: Long) = s"$root/_stage_$scope/$epoch"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory =
    new GraftsnapStreamWriterFactory(s"$root/_stage_$scope", schema,
      new SerializableConfiguration(LakeFs.hadoopConf))

  override def commit(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case StagedFileMessage(path) if path.nonEmpty => path
    }.toSeq
    Snapshots.commitStagedEpoch(root, files, scope, epochId,
      stageDir(epochId))
    ()
  }

  override def abort(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit =
    LakeFs.rmTree(stageDir(epochId))
}

case class StagedFileMessage(path: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class GraftsnapStreamWriterFactory(stageRoot: String, schema: StructType,
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftsnapDataWriter(
      s"$stageRoot/$epochId/part-$partitionId-$taskId.parquet",
      schema, conf.value)
}

/** Executor-side parquet encode of one task's rows — the write twin
  * of [[SnapshotFileReader]], over the same flat-primitive subset
  * (long / int / double / float / boolean / string / binary /
  * timestamp as INT64 micros — the graftsnap convention the read
  * side normalizes on). A zero-row task deletes its file in commit
  * (an empty footer-only file would still cost readers a footer
  * fetch each batch). */
class GraftsnapDataWriter(file: String, schema: StructType,
    conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.parquet.schema.{Types => PTypes}
  import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit

  private val msgType: MessageType = {
    val b = PTypes.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case LongType => PTypes.optional(PrimitiveTypeName.INT64)
        case TimestampType => PTypes.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
        case IntegerType => PTypes.optional(PrimitiveTypeName.INT32)
        case DoubleType => PTypes.optional(PrimitiveTypeName.DOUBLE)
        case FloatType => PTypes.optional(PrimitiveTypeName.FLOAT)
        case BooleanType => PTypes.optional(PrimitiveTypeName.BOOLEAN)
        case StringType => PTypes.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case BinaryType => PTypes.optional(PrimitiveTypeName.BINARY)
        case dt => sys.error(
          s"graftsnap: unsupported write type $dt for '${f.name}' — " +
            "the streamed-log subset is flat primitives")
      }
      b.addField(t.named(f.name))
    }
    b.named("graftsnap")
  }
  private val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
    .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
      .fromPath(new Path(file), conf))
    .withConf(conf)
    .withType(msgType)
    .build()
  private val groupFactory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(msgType)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val g = groupFactory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) schema.fields(i).dataType match {
        case LongType | TimestampType => g.add(i, row.getLong(i))
        case IntegerType => g.add(i, row.getInt(i))
        case DoubleType => g.add(i, row.getDouble(i))
        case FloatType => g.add(i, row.getFloat(i))
        case BooleanType => g.add(i, row.getBoolean(i))
        case StringType => g.add(i, org.apache.parquet.io.api.Binary
          .fromConstantByteArray(row.getUTF8String(i).getBytes))
        case BinaryType => g.add(i, org.apache.parquet.io.api.Binary
          .fromConstantByteArray(row.getBinary(i)))
        case dt => sys.error(s"graftsnap: unsupported write type $dt")
      }
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  // executor side: no active session — delete through the task conf
  private def deleteStaged(): Unit = {
    val p = new Path(file)
    try p.getFileSystem(conf).delete(p, false)
    catch { case _: java.io.FileNotFoundException => }
    ()
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    writer.close()
    if (rows == 0L) {
      deleteStaged()
      StagedFileMessage("")
    } else StagedFileMessage(file)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Throwable => }
    deleteStaged()
  }

  override def close(): Unit = ()
}

class SnapshotStreamScanBuilder(root: String, full: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var bounds:
    Map[String, (Option[BigDecimal], Option[BigDecimal])] = Map.empty
  private var accepted: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Best-effort MANIFEST pruning, Iceberg/Delta data-skipping shape:
    * numeric range/equality predicates fold into per-column [lo, hi]
    * bounds that drop whole files through each version's `_SNAP_STATS`
    * manifest. Every filter is returned as a RESIDUAL (pruning is
    * I/O-only — a version without a manifest contributes all its
    * files, so the engine must still evaluate rows); strict
    * inequalities use their inclusive bound, which can only keep an
    * extra file, never drop a matching one. */
  override def pushFilters(
      filters: Array[sources.Filter]): Array[sources.Filter] = {
    val numericCols = full.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == DoubleType || f.dataType == FloatType => f.name
    }.toSet
    def num(v: Any): Option[BigDecimal] = v match {
      case l: java.lang.Long => Some(BigDecimal(l.longValue))
      case i: java.lang.Integer => Some(BigDecimal(i.intValue))
      case d: java.lang.Double => Some(BigDecimal(d.doubleValue))
      case f: java.lang.Float => Some(BigDecimal(f.floatValue.toDouble))
      case _ => None
    }
    val picked = filters.flatMap {
      case f @ sources.EqualTo(c, v) if numericCols(c) =>
        num(v).map(b => (f, c, Some(b), Some(b)))
      case f @ sources.GreaterThan(c, v) if numericCols(c) =>
        num(v).map(b => (f, c, Some(b), None))
      case f @ sources.GreaterThanOrEqual(c, v) if numericCols(c) =>
        num(v).map(b => (f, c, Some(b), None))
      case f @ sources.LessThan(c, v) if numericCols(c) =>
        num(v).map(b => (f, c, None, Some(b)))
      case f @ sources.LessThanOrEqual(c, v) if numericCols(c) =>
        num(v).map(b => (f, c, None, Some(b)))
      case _ => None
    }
    bounds = picked.groupBy(_._2).map { case (c, fs) =>
      val los = fs.flatMap(_._3)
      val his = fs.flatMap(_._4)
      c -> (if (los.isEmpty) None else Some(los.max),
        if (his.isEmpty) None else Some(his.min))
    }
    accepted = picked.map(_._1)
    filters // ALL residual: skipping reduces I/O, never row evaluation
  }
  override def pushedFilters(): Array[sources.Filter] = accepted

  override def build(): Scan = {
    val vAsOf = Option(options.get("versionAsOf")).map(_.toLong)
    val tAsOf = Option(options.get("timestampAsOf")).map(_.toLong)
    require(vAsOf.isEmpty || tAsOf.isEmpty,
      "graftsnap: versionAsOf and timestampAsOf are mutually exclusive")
    new SnapshotStreamScan(root, required,
      vAsOf.orElse(tAsOf.map(Snapshots.versionAtTimestamp(root, _))),
      bounds, Option(options.get("columnar")))
  }
}

class SnapshotStreamScan(root: String, required: StructType,
    asOf: Option[Long] = None,
    bounds: Map[String, (Option[BigDecimal], Option[BigDecimal])] =
      Map.empty,
    columnarOpt: Option[String] = None) extends Scan {
  private val columnar =
    SnapshotStreamReaderFactory.columnarOk(required, columnarOpt)
  override def readSchema(): StructType = required
  override def description(): String =
    s"SnapshotStreamScan(root=$root, " +
      s"columns=${required.fieldNames.mkString(",")}" +
      asOf.map(v => s", asOf=$v").getOrElse("") + ")"
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new SnapshotMicroBatchStream(root, required, columnar)

  /** BATCH read of the same table: the resolved log reader window
    * (compaction subsumption + version/timestamp time travel, exactly
    * Snapshots.readLog's resolution; tombstoned MoR windows refuse)
    * planned as one InputPartition per immutable data file through
    * the same executor-side pruned parquet reader the stream uses —
    * `spark.read.format("graftsnap").option("versionAsOf", 3)
    * .load(root)` is the Delta-style batch surface over the lake
    * table, schema evolution null-filled per FILE at the page level. */
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions(): Array[InputPartition] =
        Snapshots.batchFiles(root, asOf, bounds)
          .map(f => SnapFilePartition(f): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new SnapshotStreamReaderFactory(required,
          new SerializableConfiguration(LakeFs.hadoopConf), columnar)
    }
}

/** Offset = newest committed version delivered (0 = nothing yet). */
case class SnapVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

class SnapshotMicroBatchStream(root: String, required: StructType,
    columnar: Boolean = false) extends MicroBatchStream {

  override def initialOffset(): Offset = SnapVersionOffset(0L)

  override def latestOffset(): Offset =
    SnapVersionOffset(Snapshots.latestVersion(root).getOrElse(0L))

  override def deserializeOffset(json: String): Offset =
    SnapVersionOffset(json.toLong)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val after = start.asInstanceOf[SnapVersionOffset].v
    val until = end.asInstanceOf[SnapVersionOffset].v
    Snapshots.streamWindow(root, after, until).flatMap { case (_, dir) =>
      SnapshotStreamTable.dataFiles(dir)
    }.map(f => SnapFilePartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotStreamReaderFactory(required,
      new SerializableConfiguration(LakeFs.hadoopConf), columnar)

  /** Versions below the committed offset stay on disk for time travel
    * and late readers; retention is vacuumLog's job, not the stream's. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

case class SnapFilePartition(file: String) extends InputPartition

object SnapshotStreamReaderFactory {
  /** Columnar eligibility, decided DRIVER-side from the schema alone
    * (per-file footer probes on the driver would cost O(files) round
    * trips at lake scale): every type the graftsnap subset allows has
    * a vectorized updater, so the only disqualifier is an empty
    * projection — count-only scans keep the row reader's
    * zero-page-read fast path. `.option("columnar", "false")` forces
    * the row path, the parity reference the specs compare against. */
  private[sources] def columnarOk(required: StructType,
      option: Option[String]): Boolean =
    required.nonEmpty && !option.contains("false")
}

class SnapshotStreamReaderFactory(required: StructType,
    conf: SerializableConfiguration, columnar: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new SnapshotFileReader(
      p.asInstanceOf[SnapFilePartition].file, required, conf)

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new SnapshotFileColumnarReader(
      p.asInstanceOf[SnapFilePartition].file, required, conf)
}

/** VECTORIZED decode of one snapshot file — the scan path that makes
  * the connector scale-honest: at 100 TB the scan IS the job, and
  * row-at-a-time record assembly (GroupRecordConverter) pays an
  * object per value where columnar decode writes straight into flat
  * vectors (the standard 3-10× on scan-bound work). Delegates to
  * Spark's own [[VectorizedParquetRecordReader]] — the engine the
  * built-in parquet source runs — configured exactly as Spark's file
  * scan configures it (requested-schema conf + read-support class),
  * so column pruning, per-file schema-evolution null-fill, and
  * millis/micros timestamp normalization keep the row path's
  * semantics while whole-stage codegen consumes batches upstream.
  * Emitted batches are 4096 rows (Spark's default), one reader per
  * immutable data file, same as the row path. */
class SnapshotFileColumnarReader(file: String, required: StructType,
    conf: SerializableConfiguration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  private val vec = {
    val c = new org.apache.hadoop.conf.Configuration(conf.value)
    // the conf contract Spark's ParquetPartitionReaderFactory sets for
    // its own readers (disclosed internal-key shim, GraftBridge rule)
    c.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    c.set("org.apache.spark.sql.parquet.row.requested_schema", required.json)
    c.set("spark.sql.session.timeZone", "UTC")
    c.setBoolean("spark.sql.caseSensitive", false)
    c.setBoolean("spark.sql.parquet.binaryAsString", false)
    c.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    c.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    val len = LakeFs.status(file).getOrElse(
      sys.error(s"graftsnap: committed data file vanished: $file")).getLen
    // the mapred flavor: SpecificParquetRecordReaderBase casts its
    // InputSplit to mapred.FileSplit (which extends the mapreduce one)
    val split = new org.apache.hadoop.mapred.FileSplit(
      new Path(file), 0, len, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      c, new org.apache.hadoop.mapreduce.TaskAttemptID())
    // no INT96 in the graftsnap subset → convertTz null; modern
    // (CORRECTED) date/time semantics — the write side is always
    // TIMESTAMP_MICROS from Spark 4 (Snapshots.writeVersion)
    val r = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(null, "CORRECTED", "UTC",
        "CORRECTED", "UTC", false, 4096)
    r.initialize(split, ctx)
    r.initBatch(new StructType(), InternalRow.empty)
    r.enableReturningBatches()
    r
  }

  private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _

  override def next(): Boolean = {
    val has = vec.nextKeyValue()
    if (has)
      batch = vec.getCurrentValue
        .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
    has
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch

  override def close(): Unit = vec.close()
}

/** Executor-side parquet decode of one immutable snapshot file.
  * Column pruning is pushed into the READ, not just the copy loop:
  * the requested schema handed to ParquetFileReader is the projection
  * of the file's schema onto the required columns, so unprojected
  * columns' pages are never decompressed or assembled (a `select(k)`
  * over a wide log pays I/O for k only). A required column the FILE
  * lacks (schema evolution — an older version before the column was
  * added) null-fills, matching readLog's unionByName semantics; a
  * row-count-only scan (no required columns) emits empty rows straight
  * off row-group counts without touching any page. Null handling is
  * repetition-count-based (an absent optional value never calls a
  * typed getter). */
class SnapshotFileReader(file: String, required: StructType,
    conf: SerializableConfiguration) extends PartitionReader[InternalRow] {

  private val reader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf.value))
  private val fileSchema: MessageType =
    reader.getFooter.getFileMetaData.getSchema
  // projection of the file schema onto the required columns, keeping
  // the file's own field objects (types/repetition travel intact)
  private val projected: MessageType = new MessageType(
    fileSchema.getName,
    required.fields.toSeq.filter(f => fileSchema.containsField(f.name))
      .map(f => fileSchema.getFields.get(
        fileSchema.getFieldIndex(f.name))): _*)
  // required index -> projected index, -1 = absent in this file (null)
  private val fieldIdx: Array[Int] = required.fields.map { f =>
    if (fileSchema.containsField(f.name)) projected.getFieldIndex(f.name)
    else -1
  }
  // timestamp unit normalization to Spark-internal micros, read off
  // THIS file's annotation (versions may disagree after evolution)
  private val tsMult: Array[Long] = required.fields.map { f =>
    if (f.dataType != TimestampType || !fileSchema.containsField(f.name)) 1L
    else fileSchema.getFields.get(fileSchema.getFieldIndex(f.name))
      .asPrimitiveType().getLogicalTypeAnnotation match {
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
      case _ => 1L // micros (or evolved plain long treated as micros)
    }
  }
  private val countOnly = projected.getFieldCount == 0
  private val columnIO =
    if (countOnly) null else new ColumnIOFactory().getColumnIO(projected)

  { if (!countOnly) reader.setRequestedSchema(projected) }

  private var recordReader:
    org.apache.parquet.io.RecordReader[org.apache.parquet.example.data.Group] = _
  private var remainingInGroup = 0L
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (remainingInGroup == 0L) {
      val pages = reader.readNextRowGroup()
      if (pages == null) return false
      remainingInGroup = pages.getRowCount
      if (!countOnly)
        recordReader =
          columnIO.getRecordReader(pages, new GroupRecordConverter(projected))
    }
    remainingInGroup -= 1
    if (countOnly) {
      row = InternalRow.fromSeq(
        IndexedSeq.fill[Any](required.length)(null))
      return true
    }
    val g = recordReader.read()
    val values = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val idx = fieldIdx(i)
      values(i) =
        if (idx < 0 || g.getFieldRepetitionCount(idx) == 0) null
        else required.fields(i).dataType match {
          case LongType => g.getLong(idx, 0)
          case TimestampType => g.getLong(idx, 0) * tsMult(i)
          case IntegerType => g.getInteger(idx, 0)
          case DoubleType => g.getDouble(idx, 0)
          case FloatType => g.getFloat(idx, 0)
          case BooleanType => g.getBoolean(idx, 0)
          case StringType =>
            UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
          case BinaryType => g.getBinary(idx, 0).getBytes
          case dt => sys.error(s"graftsnap: unsupported read type $dt")
        }
      i += 1
    }
    row = InternalRow.fromSeq(values.toIndexedSeq)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
