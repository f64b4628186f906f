package graft.sink

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** `format("graft-streaming")` — the sink's registration + construction
  * entry point, the Spark-4 connector expression of the reference's
  * `HiveSourceProvider.scala:29-61` (Spark-2.3 DataSourceV2 +
  * StreamWriteSupport):
  *
  *  - A1 registration: [[DataSourceRegister]] short name resolved through
  *    the same META-INF ServiceLoader mechanism (reference service file
  *    `core/src/main/resources/META-INF/services/...DataSourceRegister:1`);
  *  - A2 construction + validation: option parsing, name-set schema check
  *    against the destination's recorded schema (reference
  *    `HiveSourceProvider.scala:55-58` compares name SETS — order and types
  *    deliberately not checked), Append-only enforcement (reference `:42-44`
  *    — here by NOT implementing `SupportsTruncate`/streaming-update, so
  *    Spark itself rejects Complete/Update modes);
  *  - A3 options: [[GraftSinkOptions]];
  *  - A4 fan-out: `createStreamingWriterFactory` serializes (schema,
  *    options, a handle to the broadcast Hadoop conf) to executors, one
  *    [[GraftDataWriter]] per (partition, task, epoch) — reference
  *    `HiveStreamWriter.scala:35-37,49-63` minus the isolated-classloader
  *    reflection, which a single-Spark-version native sink does not need
  *    (SURVEY §2.A A13).
  *
  * The destination "table" is a directory `<path>/<db>.<table>/`; its schema
  * contract is recorded in `_schema.json` on first write and enforced on
  * every subsequent stream start, standing in for the reference's
  * pre-existing metastore table (`HiveSourceProvider.scala:46-52`).
  */
final class GraftSinkProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-streaming"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // write-only source: the schema is whatever the query writes; recorded
    // schema (if any) is only used for validation at write time
    SchemaRegistry.load(GraftSinkOptions.from(options)).getOrElse(new StructType())
  }

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = GraftSinkOptions.from(new CaseInsensitiveStringMap(properties))
    new GraftSinkTable(schema, opts)
  }
}

/** Destination-schema registry: `_schema.json` under the table dir plays the
  * reference's metastore-table role (name-set validation source,
  * `HiveSourceProvider.scala:46-58`).
  */
object SchemaRegistry {
  import org.apache.hadoop.fs.Path

  private def schemaPath(opts: GraftSinkOptions) =
    new Path(opts.tableDir, "_schema.json")

  private def conf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  def load(opts: GraftSinkOptions): Option[StructType] = {
    val p = schemaPath(opts)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else Some(DataTypeUtils.fromJson(CommitLog.readFully(fs, p)))
  }

  /** Write `content` to `p` unless a record is already there: write-temp +
    * rename, so no reader or racer ever observes a partial file. Returns
    * true when this write lost the rename race to a concurrent first
    * writer; the caller then validates its own record against the
    * winner's instead of failing the stream. The target is re-checked
    * right before the rename because the local file system's rename
    * REPLACES an existing target.
    */
  private def lostWriteOnce(p: Path, tmpPrefix: String, content: String): Boolean = {
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) return false
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".$tmpPrefix.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    val won = !fs.exists(p) && fs.rename(tmp, p)
    if (!won) fs.delete(tmp, false)
    !won
  }

  def saveIfAbsent(opts: GraftSinkOptions, schema: StructType): Unit =
    if (lostWriteOnce(schemaPath(opts), "schema", schema.json)) {
      load(opts).foreach { winner =>
        val want = winner.fields.map(_.name).toSet
        val got = schema.fields.map(_.name).toSet
        if (want != got) {
          throw new IllegalStateException(
            s"Concurrent writer recorded schema (${want.toSeq.sorted
              .mkString(",")}) different from this stream's (${got.toSeq
              .sorted.mkString(",")})")
        }
      }
    }

  private object DataTypeUtils {
    def fromJson(json: String): StructType =
      org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]
  }

  // ---- partition layout record (`_partitioning`) --------------------------
  // The reference resolves partition columns from the metastore table
  // (HiveSourceProvider.scala:46-53); the filesystem analogue records them
  // at first write so later streams resolve instead of re-declaring, and a
  // CONFLICTING re-declaration fails instead of silently splitting the
  // table into two physical layouts.

  private def partitioningPath(opts: GraftSinkOptions) =
    new Path(opts.tableDir, "_partitioning")

  def loadPartitioning(opts: GraftSinkOptions): Option[Seq[String]] = {
    val p = partitioningPath(opts)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else Some(CommitLog.readFully(fs, p).split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq)
  }

  /** Losing the write race means a concurrent first writer won; the
    * caller re-validates against the winner's record.
    */
  def savePartitioningIfAbsent(opts: GraftSinkOptions, cols: Seq[String]): Unit =
    lostWriteOnce(partitioningPath(opts), "partitioning", cols.mkString(","))

  /** Resolve the effective partition columns for a write: an explicit
    * `partition.columns` is validated against the recorded layout (first
    * writer records it); an ABSENT option inherits the record — the
    * reference's metastore-resolution behavior.
    */
  def resolvePartitioning(opts: GraftSinkOptions): GraftSinkOptions = {
    val recorded = loadPartitioning(opts)
    (recorded, opts.partitionColumnsSpecified) match {
      case (Some(rec), true) =>
        if (rec != opts.partitionColumns) {
          throw new IllegalStateException(
            s"Table ${opts.db}.${opts.table} is partitioned by " +
              s"(${rec.mkString(",")}) but this write declares " +
              s"(${opts.partitionColumns.mkString(",")}). A second physical " +
              "layout would corrupt partition routing — drop the option to " +
              "inherit the table's layout, or write to a fresh table.")
        }
        opts
      case (Some(rec), false) => opts.copy(partitionColumns = rec)
      case (None, _) =>
        savePartitioningIfAbsent(opts, opts.partitionColumns)
        // re-validate against the record in case a concurrent first writer
        // won the race with a different layout
        loadPartitioning(opts).filter(_ != opts.partitionColumns).foreach { w =>
          throw new IllegalStateException(
            s"Concurrent writer recorded partitioning (${w.mkString(",")}) " +
              s"different from this stream's (${opts.partitionColumns.mkString(",")})")
        }
        opts
    }
  }
}

class GraftSinkTable(writeSchema: StructType, opts: GraftSinkOptions)
  extends Table with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsRead {

  override def name(): String = s"graft-streaming:${opts.db}.${opts.table}"

  // Spark's V2Writes asks this same table object for a write builder every
  // epoch, so a streaming query broadcasts its task-side conf once — its
  // first epoch's conf — not once per epoch or per task
  private lazy val taskConf = TaskConf.broadcast(SparkSession.active.sparkContext)

  // ...and the write it validated: `_schema.json` and `_partitioning` are
  // write-once, so a query's later epochs (same schema) reuse the first
  // epoch's checked write instead of re-reading both records
  @volatile private var validated: Option[(StructType, GraftWrite)] = None

  override def schema(): StructType = writeSchema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): GraftScanBuilder = {
    val tableSchema =
      if (writeSchema.nonEmpty) writeSchema
      else SchemaRegistry.load(opts).getOrElse(throw new IllegalStateException(
        s"Table ${opts.db}.${opts.table} has no recorded schema — nothing " +
          "has been written to it yet"))
    new GraftScanBuilder(tableSchema, opts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    val write = validated.collect { case (s, w) if s == schema => w }
      .getOrElse {
        val w = new GraftWrite(schema, validate(schema), taskConf)
        validated = Some(schema -> w)
        w
      }
    new WriteBuilder {
      override def build(): Write = write
    }
  }

  /** The table's options resolved for a write of `schema`, with the
    * schema and layout checked against (or recorded as) the table's.
    */
  private def validate(schema: StructType): GraftSinkOptions = {
    // A2 name-set schema validation (reference HiveSourceProvider.scala:55-58)
    SchemaRegistry.load(opts).foreach { recorded =>
      val want = recorded.fields.map(_.name).toSet
      val got = schema.fields.map(_.name).toSet
      if (want != got) {
        throw new IllegalStateException(
          s"Schema of the destination table ${opts.db}.${opts.table} " +
            s"(${want.toSeq.sorted.mkString(",")}) is different from the " +
            s"schema of the source dataframe (${got.toSeq.sorted.mkString(",")})")
      }
    }
    // catalog-style layout resolution (reference reads partition columns
    // from the metastore): absent option inherits the recorded layout,
    // conflicting option fails, first write records
    val resolved = SchemaRegistry.resolvePartitioning(opts)
    resolved.partitionColumns.foreach { c =>
      if (!schema.fieldNames.contains(c)) {
        throw new IllegalArgumentException(
          s"Partition column '$c' is not present in the write schema " +
            s"(${schema.fieldNames.mkString(",")})")
      }
    }
    SchemaRegistry.saveIfAbsent(resolved, schema)
    resolved
  }
}

/** Shared write implementation: streaming commits are epoch-idempotent via
  * [[CommitLog]]; batch writes reuse the identical writer path with a
  * negative pseudo-epoch (single commit).
  */
final class GraftWrite(schema: StructType, opts: GraftSinkOptions,
    conf: Broadcast[SerializableConfiguration])
  extends Write with Serializable with org.apache.spark.internal.Logging {

  // one per query: the table hands every epoch this same write
  @transient private lazy val commitLog = new CommitLog(opts.tableDir, conf.value.value)

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory =
      GraftWriterFactory(schema, opts, conf)

    /** REAL epoch commit — the reference's is a deliberate no-op
      * (`HiveStreamWriter.scala:39-41`), which is exactly what makes it
      * at-least-once. A replayed epoch discards its files instead of
      * publishing them.
      */
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val files = messages.collect { case m: GraftCommitMessage => m.files }.flatten.toSeq
      val stats = messages.collect { case m: GraftCommitMessage => m.stats }
        .foldLeft(Map.empty[String, String])(_ ++ _)
      if (!commitLog.commit(epochId, files, fileStats = stats)) {
        logWarning(s"epoch $epochId already committed (replay); " +
          s"discarding ${files.size} replayed files")
        commitLog.deleteFiles(files)
      }
    }

    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val files = messages.collect { case m: GraftCommitMessage => m.files }.flatten.toSeq
      commitLog.deleteFiles(files)
    }
  }

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val f = GraftWriterFactory(schema, opts, conf)
      (partitionId: Int, taskId: Long) => f.createWriter(partitionId, taskId, -1L)
    }
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val files = messages.collect { case m: GraftCommitMessage => m.files }.flatten.toSeq
      val stats = messages.collect { case m: GraftCommitMessage => m.stats }
        .foldLeft(Map.empty[String, String])(_ ++ _)
      // nothing written → no manifest: foreachBatch pipelines with
      // mostly-duplicate batches would otherwise grow the commit log with
      // empty manifests every reader must list and parse
      if (files.isEmpty) return
      opts.commitEpoch match {
        // foreachBatch pipelines pass their micro-batch epoch through
        // `commit.epoch`: the write commits as a STREAMING epoch, so a
        // re-executed foreachBatch is idempotent (replay discarded) and the
        // rows remain visible to tailing readers
        case Some(e) =>
          if (!commitLog.commit(e, files, fileStats = stats)) {
            logWarning(s"epoch $e already committed (foreachBatch replay); " +
              s"discarding ${files.size} replayed files")
            commitLog.deleteFiles(files)
          }
        // plain batch appends have no Spark-assigned epoch; claim a unique
        // negative pseudo-epoch (snapshot-only for tails), retrying on
        // collision so a concurrent batch writer can never silently drop
        // this batch's manifest
        case None =>
          var epoch = -math.abs(System.nanoTime())
          while (!commitLog.commit(epoch, files, fileStats = stats)) epoch -= 1
      }
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val files = messages.collect { case m: GraftCommitMessage => m.files }.flatten.toSeq
      commitLog.deleteFiles(files)
    }
  }
}

/** Task-side Hadoop configuration, shipped the way Spark's own file scans
  * ship it: one broadcast per query (per scan for batch reads), so a task's
  * closure carries only the broadcast handle. A conf inside the closure
  * would be re-read, property by property, by every task: a fixed per-task
  * cost growing with the size of the conf. The broadcast holds a COPY: a local
  * executor reads the driver's broadcast object in place, and tasks must
  * not share the driver's mutable `hadoopConfiguration`.
  */
object TaskConf {
  def broadcast(sc: SparkContext): Broadcast[SerializableConfiguration] =
    sc.broadcast(new SerializableConfiguration(new Configuration(sc.hadoopConfiguration)))
}

final case class GraftWriterFactory(
    schema: StructType,
    opts: GraftSinkOptions,
    conf: Broadcast[SerializableConfiguration])
  extends StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schema, opts, conf.value.value, partitionId, taskId, epochId)
}
