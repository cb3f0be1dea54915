package org.apache.spark.sql.graft

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.core.TableStore

/** DSv2 batch write into a [[graft.core.TableStore]] table — the engine
  * behind SQL `CREATE TABLE AS SELECT` / `INSERT INTO` / `INSERT OVERWRITE`
  * / `MERGE INTO` against a GraftCatalog (the reference's headline write
  * surface: CTAS at athena_functions.py:60-97, MERGE at
  * updating_db_with_deltas_iceberg.ipynb cell 26).
  *
  * Each task writes a parquet file into a per-job staging directory using
  * Spark's own ParquetFileFormat OutputWriter (identical file format to the
  * read path, TIMESTAMP_MICROS timestamps so footer stats stay orderable);
  * the driver-side commit MOVES staged files into the next version
  * directory (same-FS rename, zero data copy) and swaps the snapshot
  * pointer. Append keeps existing file entries metadata-only.
  *
  * Tables with an identity partition spec (SQL
  * `CREATE TABLE … PARTITIONED BY`, mirroring the reference's partitioned
  * DDL — query_performance/utils/create_iceberg_tpcds.py:27-33) request
  * clustering + a sort on the partition columns via
  * [[RequiresDistributionAndOrdering]], so each task streams one partition
  * at a time and rolls files into `__p_<col>=<value>/` staging
  * subdirectories — the exact layout [[TableStore.commitPartitioned]]
  * produces, giving SQL-written partitions the same partition-exact file
  * pruning as library writes without any post-write repartition pass.
  *
  * Lives in org.apache.spark.sql.graft for access to the internal writer
  * factory and SerializableConfiguration, like VectorExpressions.
  */
object StoreWrite {

  /** WriteBuilder for plain INSERT INTO (append, metadata-only for
    * existing files) / INSERT OVERWRITE (truncate → full replace). */
  def builder(warehouse: String, table: String, info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(warehouse, table, info.schema(), "append",
      () => {
        val store = new TableStore(SparkSession.active, warehouse)
        if (store.exists(table)) store.manifests(table).maxBy(_.version).files
        else Seq.empty
      }, info.queryId())

  /** WriteBuilder for a group-based row-level operation (MERGE / UPDATE /
    * DELETE): the rewritten rows replace the files the operation's scan
    * covered; `kept` supplies the untouched files (file-level
    * copy-on-write, resolved at commit time). The commit is pinned to
    * `baseVersion`, the snapshot the scan planned on: a commit landing
    * during the write job makes it conflict instead of being dropped. */
  def cowBuilder(warehouse: String, table: String, info: LogicalWriteInfo,
      operation: String, kept: () => Seq[TableStore.FileEntry],
      baseVersion: Long): WriteBuilder =
    new GraftWriteBuilder(warehouse, table, info.schema(), operation, kept,
      info.queryId(), baseVersion)

  /** WriteBuilder for a STAGED `CREATE / REPLACE TABLE AS SELECT`
    * (StagingTableCatalog): rows stage under the table's `_staging` dir
    * exactly like any other SQL write, but `commit(messages)` only hands
    * the staged file list to `sink` — the StagedTable's
    * `commitStagedChanges()` later turns them into ONE atomic manifest
    * swap ([[TableStore.commitStagedFresh]]), so a reader never sees a
    * half-replaced table and an abort leaves the old snapshot intact.
    * `partitionBy` is the NEW table's spec (the current manifest's spec —
    * what ordinary writes cluster by — is the one being replaced), and
    * the writer uses fresh logical field names (a replace resets any
    * column mapping). */
  def stagedBuilder(warehouse: String, table: String, info: LogicalWriteInfo,
      partitionBy: Seq[String], clusterBy: Seq[String],
      sink: Seq[(String, String)] => Unit): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // RTAS plans the write as truncate-then-append on the staged table;
      // a staged table has no committed content to truncate, so it's the
      // same fresh write either way
      override def truncate(): WriteBuilder = this
      override def build(): Write =
        new GraftWrite(warehouse, table, info.schema(), "staged-ctas",
          () => Seq.empty, info.queryId(), KeepKept,
          explicitSpec = Some(partitionBy), explicitOrder = Some(clusterBy),
          stagedSink = Some(sink))
    }
}

private class GraftWriteBuilder(warehouse: String, table: String,
    schema: StructType, operation: String, kept: () => Seq[TableStore.FileEntry],
    queryId: String, baseVersion: Long = -1L)
    extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite
    with SupportsOverwriteV2 {
  private var op = operation
  private var keptFiles = kept
  private var overwriteMode: OverwriteMode = KeepKept
  override def truncate(): WriteBuilder = {
    op = "overwrite"; keptFiles = () => Seq.empty; this
  }
  /** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`: replace
    * exactly the partitions the query writes, keep every other file —
    * Iceberg's dynamic overwrite, the daily re-materialization pattern. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    op = "overwrite_dynamic"; overwriteMode = DynamicParts; this
  }
  /** Static `INSERT OVERWRITE t PARTITION (p = 'x')` / `REPLACE WHERE`:
    * the predicate may reference ONLY identity partition columns —
    * anything finer would need row-level rewrite, and approximating it
    * with file drops would silently lose rows. ALWAYS_TRUE (no static
    * partition spec) degrades to truncate, Spark's semantics. The tree is
    * kept whole and evaluated per file at commit time: partitioned files
    * carry exact (min = max) partition values, so evaluation is exact. */
  override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
    if (predicates.forall(_.name() == "ALWAYS_TRUE")) return truncate()
    op = "overwrite_where"
    overwriteMode = PartitionFilter(predicates.toSeq)
    this
  }
  override def build(): Write =
    new GraftWrite(warehouse, table, schema, op, keptFiles, queryId,
      overwriteMode, baseVersion = baseVersion)
}

/** How the commit resolves the files KEPT alongside the staged ones. */
private sealed trait OverwriteMode
/** Append / truncate / CoW: the builder's kept-files closure decides. */
private case object KeepKept extends OverwriteMode
/** Keep files whose partition tuple the staged write did not touch. */
private case object DynamicParts extends OverwriteMode
/** Keep files whose partition tuple fails the static overwrite filter. */
private case class PartitionFilter(preds: Seq[Predicate]) extends OverwriteMode

/** One logical write, usable as batch OR streaming. Streaming
  * (`df.writeStream.toTable`) appends one snapshot per micro-batch epoch,
  * stamped `streamEpoch = (queryId, epochId)` in the manifest — the
  * exactly-once ledger: Spark's streaming query id is stable across
  * restarts (it lives in checkpoint metadata), so a restarted query that
  * replays an already-committed epoch finds the marker in
  * [[TableStore.commitStaged]] and no-ops instead of double-appending.
  * Iceberg's Spark streaming sink uses the same design. Each epoch stages
  * under its own `e<epoch>/` subdirectory so concurrent task retries from
  * different epochs never collide. */
private class GraftWrite(warehouse: String, table: String, schema: StructType,
    operation: String, kept: () => Seq[TableStore.FileEntry], queryId: String,
    mode: OverwriteMode = KeepKept,
    explicitSpec: Option[Seq[String]] = None,
    explicitOrder: Option[Seq[String]] = None,
    stagedSink: Option[Seq[(String, String)] => Unit] = None,
    baseVersion: Long = -1L)
    extends Write with BatchWrite with StreamingWrite
    with RequiresDistributionAndOrdering {
  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  // BatchWrite and StreamingWrite both default this; scalac requires an
  // explicit override when inheriting from both
  override def useCommitCoordinator(): Boolean = true

  private def spark = SparkSession.active
  private val stagingDir = s"$warehouse/$table/_staging/${UUID.randomUUID()}"

  /** The table's partition spec entries the write can honor: identity
    * columns present in the write schema, and name-encoded bucket
    * transforms whose BASE column is (the bucket value is derived, so the
    * bucket pseudo-column need not be written). Resolved once at build. */
  private val partitionBy: Seq[String] = explicitSpec.getOrElse {
    val store = new TableStore(spark, warehouse)
    if (store.exists(table))
      store.manifests(table).maxBy(_.version).partitionBy
        .filter(pc => schema.fieldNames.contains(
          TableStore.transformSource(pc).getOrElse(pc)))
    else Seq.empty
  }

  private def specTransform(entry: String)
      : org.apache.spark.sql.connector.expressions.Expression = entry match {
    // resolved against GraftCatalog's FunctionCatalog `bucket` function —
    // Spark shuffles rows by OUR md5 arithmetic, so each task holds whole
    // buckets and the writer rolls exactly one file per touched bucket
    // (Iceberg's storage-partitioned write)
    case TableStore.BucketRe(n, c) =>
      Expressions.apply("bucket",
        Expressions.literal(n.toInt), Expressions.column(c))
    // temporal/truncate transforms resolve against the same
    // FunctionCatalog (GraftFunctions) — rows cluster by the DERIVED
    // value, so each task holds whole days/prefixes and the writer rolls
    // one file per touched partition
    case TableStore.DaysRe(c) =>
      Expressions.apply("days", Expressions.column(c))
    case TableStore.MonthsRe(c) =>
      Expressions.apply("months", Expressions.column(c))
    case TableStore.HoursRe(c) =>
      Expressions.apply("hours", Expressions.column(c))
    case TableStore.YearsRe(c) =>
      Expressions.apply("years", Expressions.column(c))
    case TableStore.TruncRe(w, c) =>
      Expressions.apply("truncate",
        Expressions.literal(w.toInt), Expressions.column(c))
    case c => Expressions.identity(c)
  }

  /** The table's declared write order (`CLUSTER BY` / WRITE ORDERED BY),
    * restricted to columns this write carries. SQL writes request it
    * through RequiresDistributionAndOrdering, so rows arrive range-
    * clustered + sorted and the staged files' min/max footer stats prune
    * on the cluster keys — the same layout the library write path's
    * applyWriteOrder produces. */
  private val writeOrder: Seq[String] = explicitOrder.getOrElse {
    val store = new TableStore(spark, warehouse)
    if (store.exists(table))
      store.writeOrderOf(table).filter(schema.fieldNames.contains)
    else Seq.empty
  }

  override def requiredDistribution(): Distribution =
    if (partitionBy.nonEmpty)
      Distributions.clustered(partitionBy.map(specTransform).toArray)
    else if (writeOrder.nonEmpty)
      Distributions.ordered(writeOrder.map(c =>
        Expressions.sort(Expressions.column(c),
          SortDirection.ASCENDING)).toArray)
    else Distributions.unspecified()

  override def requiredOrdering(): Array[SortOrder] =
    (partitionBy.map(specTransform) ++
      writeOrder.map(c => Expressions.column(c): org.apache.spark.sql.connector.expressions.Expression))
      .map(e => Expressions.sort(e, SortDirection.ASCENDING)).toArray

  private def writerFactory: GraftWriterFactory = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // Column mapping: executors write parquet under the table's pinned
    // PHYSICAL field names (rows are positional — only the file schema
    // changes); commitStaged re-keys the harvested stats back to logical.
    // Partition columns are rename-protected, so `partitionBy` resolves
    // identically in either naming.
    // staged CREATE/REPLACE defines a fresh schema identity: logical
    // names ARE the physical names, whatever the snapshot being replaced
    // had pinned
    val cmap =
      if (stagedSink.isDefined) Map.empty[String, String]
      else new TableStore(spark, warehouse).columnMapOf(table)
    val pSchema =
      if (cmap.isEmpty) schema
      else StructType(schema.fields.map(f =>
        f.copy(name = cmap.getOrElse(f.name, f.name))))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, pSchema)
    // after prepareWrite: it stamps the session's timestamp type; store
    // files must be TIMESTAMP_MICROS for orderable footer stats
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new GraftWriterFactory(factory, pSchema,
      new SerializableConfiguration(job.getConfiguration), stagingDir,
      partitionBy, spark.sessionState.conf.sessionLocalTimeZone)
  }

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory =
    writerFactory

  override def createStreamingWriterFactory(
      pinfo: PhysicalWriteInfo): StreamingDataWriterFactory = writerFactory

  // The table's declared schema stays authoritative across writes: the
  // query's schema may carry tighter nullability (e.g. literal VALUES),
  // which would make added-then-null columns unreadable in old files.
  private def resolvedSchemaJson(store: TableStore): String =
    store.manifests(table).lastOption
      .map(_.schemaJson)
      .filter { sj =>
        org.apache.spark.sql.types.DataType.fromJson(sj)
          .asInstanceOf[StructType].fieldNames.toSet == schema.fieldNames.toSet
      }
      .getOrElse(schema.json)

  private def stagedOf(messages: Array[WriterCommitMessage]): Seq[(Path, String)] =
    messages.collect { case GraftCommitMessage(ps) =>
      ps.map { case (abs, rel) => (new Path(abs), rel) } }.flatten.toSeq

  /** The files kept alongside the staged ones — partition-level overwrite
    * granularity: a file is dropped only when its WHOLE partition tuple is
    * being replaced, which is exact because partitioned files carry exact
    * (min = max) partition values. Both overwrite modes are metadata-only
    * decisions over the manifest; no data file is read. */
  private def resolveKept(store: TableStore,
      staged: Seq[(Path, String)]): Seq[TableStore.FileEntry] = {
    def current = if (store.exists(table))
      store.manifests(table).maxBy(_.version).files else Seq.empty
    def requireSpecOn(files: Seq[TableStore.FileEntry], what: String): Unit =
      require(files.forall(f => partitionBy.forall(f.partitionValues.contains)),
        s"$what of $table needs every live file to carry partition values " +
          s"for (${partitionBy.mkString(", ")}); rewrite or compact first")
    mode match {
      case KeepKept => kept()
      case DynamicParts =>
        // unpartitioned table: the whole table is one partition (Spark
        // semantics) — a dynamic overwrite replaces it entirely
        if (partitionBy.isEmpty) Seq.empty
        else {
          val cur = current
          requireSpecOn(cur, "dynamic partition overwrite")
          val touched = staged
            .map { case (_, rel) => store.partitionValuesOf(rel) }.toSet
          cur.filterNot(f =>
            touched.contains(partitionBy.map(c => c -> f.partitionValues(c)).toMap))
        }
      case PartitionFilter(preds) =>
        val refs = preds.flatMap(PredicateEval.references).distinct
        refs.foreach { c =>
          require(partitionBy.contains(c),
            s"overwrite filter column $c is not an identity partition column " +
              s"of $table (spec: ${partitionBy.mkString(", ")}); use " +
              "MERGE/DELETE for row-level overwrites") }
        val cur = current
        requireSpecOn(cur, "partition-filtered overwrite")
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        // drop a file only when the filter is definitively TRUE on its
        // exact partition tuple; NULL/false keep it (SQL filter semantics)
        cur.filterNot { f =>
          preds.forall(p =>
            PredicateEval.eval(p, f.partitionValues, tz).contains(true))
        }
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    stagedSink match {
      case Some(sink) =>
        // deferred: the StagedTable owns the atomic manifest commit; the
        // staging dir must outlive this job (commitStagedFresh renames
        // the files out; abortStagedChanges deletes the dir)
        sink(stagedOf(messages).map { case (p, rel) => (p.toString, rel) })
      case None =>
        val store = new TableStore(spark, warehouse)
        val staged = stagedOf(messages)
        store.commitStaged(table, resolveKept(store, staged), staged,
          operation, resolvedSchemaJson(store), baseVersion = baseVersion)
        cleanup(stagingDir)
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanup(stagingDir)

  /** Epoch commit: kept files re-resolved NOW (each epoch appends to the
    * table as of its own commit, not as of query start); truncate-mode
    * (outputMode Complete) keeps `kept` empty so each epoch replaces. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val store = new TableStore(spark, warehouse)
    store.commitStaged(table, kept(), stagedOf(messages),
      s"stream-$operation", resolvedSchemaJson(store),
      Some((queryId, epochId)))
    cleanup(s"$stagingDir/e$epochId")
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanup(s"$stagingDir/e$epochId")

  private def cleanup(dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}

/** Exact three-valued (Kleene) evaluation of a DSv2 overwrite predicate
  * against one file's partition tuple. Field values are the writer's own
  * string renderings (null = the Hive default-partition marker), literals
  * are rendered through the same Cast-to-string path, so comparison is
  * exact by construction. `None` = SQL NULL. Unsupported predicate names
  * throw — refusal is always safer than approximating an overwrite. */
private object PredicateEval {
  import org.apache.spark.sql.connector.expressions.Expression

  private val NullMarker =
    ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  def references(e: Expression): Seq[String] = e match {
    case f: NamedReference => Seq(f.fieldNames().mkString("."))
    case other => other.children().toSeq.flatMap(references)
  }

  private def render(l: Literal[_], tz: String): Option[String] =
    Option(l.value).map { _ =>
      String.valueOf(Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(l.value, l.dataType),
        StringType, Option(tz)).eval(null))
    }

  private def valueOf(e: Expression, vals: Map[String, String],
      tz: String): Option[String] = e match {
    case f: NamedReference =>
      vals.get(f.fieldNames().mkString(".")).filter(_ != NullMarker)
    case l: Literal[_] => render(l, tz)
    case other => throw new UnsupportedOperationException(
      s"overwrite filter operand $other is not a column or literal")
  }

  def eval(p: Predicate, vals: Map[String, String],
      tz: String): Option[Boolean] = {
    def kids = p.children()
    def sub(i: Int): Option[Boolean] =
      eval(kids(i).asInstanceOf[Predicate], vals, tz)
    p.name() match {
      case "ALWAYS_TRUE" => Some(true)
      case "ALWAYS_FALSE" => Some(false)
      case "AND" => (sub(0), sub(1)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case "OR" => (sub(0), sub(1)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case "NOT" => sub(0).map(!_)
      case "=" => for {
        a <- valueOf(kids(0), vals, tz); b <- valueOf(kids(1), vals, tz)
      } yield a == b
      case "<=>" =>
        Some(valueOf(kids(0), vals, tz) == valueOf(kids(1), vals, tz))
      case "IS_NULL" => Some(valueOf(kids(0), vals, tz).isEmpty)
      case "IS_NOT_NULL" => Some(valueOf(kids(0), vals, tz).isDefined)
      case "IN" =>
        val v = valueOf(kids(0), vals, tz)
        val list = kids.toSeq.tail.map(valueOf(_, vals, tz))
        v match {
          case None => if (list.isEmpty) Some(false) else None
          case Some(x) =>
            if (list.contains(Some(x))) Some(true)
            else if (list.exists(_.isEmpty)) None
            else Some(false)
        }
      case other => throw new UnsupportedOperationException(
        s"overwrite filter $p (op $other) cannot be proven to pin whole " +
          "partitions; use MERGE/DELETE for row-level overwrites")
    }
  }
}

/** `paths` are (absolute staged path, version-relative path incl. any
  * `__p_…=` partition subdirectories). */
private case class GraftCommitMessage(paths: Seq[(String, String)])
    extends WriterCommitMessage

private class GraftWriterFactory(factory: OutputWriterFactory,
    schema: StructType, conf: SerializableConfiguration, stagingDir: String,
    partitionBy: Seq[String], timeZone: String)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writerInto(stagingDir, partitionId, taskId)

  // streaming: stage under e<epoch>/ so a replayed epoch's files never
  // collide with a live one's
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    writerInto(s"$stagingDir/e$epochId", partitionId, taskId)

  private def writerInto(stagingDir: String, partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // lazily opened so empty partitions produce no file at all
      private var writer: OutputWriter = _
      private var fileSeq = 0
      private var currentRelDir: String = _
      private val written = scala.collection.mutable.ArrayBuffer[(String, String)]()
      // Row-level-operation plans (MERGE/UPDATE/DELETE) in Spark 4.1 emit
      // rows as (operation_marker_int, table columns...) — see
      // RowDeltaUtils.OPERATION_COLUMN and ReplaceDataExec: the stripping
      // ProjectingInternalRow is only applied when the operation requires
      // metadata attributes. Strip the marker here by projecting the
      // table columns at ordinals 1..n.
      private var proj: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _
      private var checked = false
      // Partition-value renderers bound to the PROJECTED row: Cast to
      // string in the session timezone — the same rendering
      // `df.write.partitionBy` uses for directory names. Bucket-transform
      // entries derive their value from the base column with the exact
      // md5-prefix arithmetic of TableStore.bucketOf (conv(substr(md5(
      // cast(k as string)),1,6),16,10) % n), so SQL-staged files land in
      // the same bucket dirs as library-bucketed ones.
      private val partCasts = partitionBy.map {
        case bc @ TableStore.BucketRe(n, c) =>
          import org.apache.spark.sql.catalyst.expressions.{Conv, Literal, Md5, Remainder, Substring}
          import org.apache.spark.sql.types.{BinaryType, LongType}
          val i = schema.fieldIndex(c)
          val f = schema.fields(i)
          val asStr = Cast(BoundReference(i, f.dataType, f.nullable),
            StringType, Option(timeZone))
          val sixHex = Substring(Md5(Cast(asStr, BinaryType)),
            Literal(1), Literal(6))
          val bucket = Remainder(
            Cast(Conv(sixHex, Literal(16), Literal(10)), LongType),
            Literal(n.toLong))
          bc -> Cast(bucket, StringType, Option(timeZone))
        case pc @ (TableStore.DaysRe(_) | TableStore.MonthsRe(_) |
                   TableStore.HoursRe(_) | TableStore.YearsRe(_)) =>
          import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Literal}
          import org.apache.spark.sql.types.TimestampType
          val c = TableStore.transformSource(pc).get
          val i = schema.fieldIndex(c)
          val f = schema.fields(i)
          val pattern = pc match {
            case TableStore.DaysRe(_) => "yyyy-MM-dd"
            case TableStore.MonthsRe(_) => "yyyy-MM"
            case TableStore.HoursRe(_) => "yyyy-MM-dd-HH"
            case _ => "yyyy"
          }
          pc -> DateFormatClass(
            Cast(BoundReference(i, f.dataType, f.nullable), TimestampType,
              Option(timeZone)),
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
              pattern), StringType),
            Option(timeZone))
        case pc @ TableStore.TruncRe(w, c) =>
          import org.apache.spark.sql.catalyst.expressions.{Literal, Substring}
          val i = schema.fieldIndex(c)
          val f = schema.fields(i)
          pc -> Substring(
            Cast(BoundReference(i, f.dataType, f.nullable), StringType,
              Option(timeZone)),
            Literal(1), Literal(w.toInt))
        case c =>
          val i = schema.fieldIndex(c)
          val f = schema.fields(i)
          c -> Cast(BoundReference(i, f.dataType, f.nullable), StringType,
            Option(timeZone))
      }

      private def relDirOf(row: InternalRow): String =
        partCasts.map { case (c, cast) =>
          val v = cast.eval(row)
          val s = if (v == null) null else v.toString
          val rendered =
            if (s == null || s.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(s)
          s"__p_$c=$rendered"
        }.mkString("/")

      private def checkShape(firstRow: InternalRow): Unit = {
        if (firstRow.numFields == schema.length + 1) {
          import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          proj = UnsafeProjection.create(schema.fields.toIndexedSeq.zipWithIndex.map {
            case (f, i) => BoundReference(i + 1, f.dataType, f.nullable)
          })
        } else require(firstRow.numFields == schema.length,
          s"row has ${firstRow.numFields} fields, write schema has ${schema.length}")
      }

      private def open(relDir: String): Unit = {
        val attempt = new TaskAttemptID(
          new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), 0)
        val ctx = new TaskAttemptContextImpl(conf.value, attempt)
        val name =
          f"part-$partitionId%05d-$taskId-$fileSeq${factory.getFileExtension(ctx)}"
        fileSeq += 1
        val rel = if (relDir.isEmpty) name else s"$relDir/$name"
        val abs = s"$stagingDir/$rel"
        writer = factory.newInstance(abs, schema, ctx)
        currentRelDir = relDir
        written += ((abs, rel))
      }

      override def write(row: InternalRow): Unit = {
        if (!checked) { checkShape(row); checked = true }
        val r = if (proj == null) row else proj(row)
        val relDir = if (partitionBy.isEmpty) "" else relDirOf(r)
        // clustering+sort make equal tuples contiguous, so rolling on
        // change yields one file per (task, partition value); an engine
        // that ignored the ordering would only produce extra files, never
        // wrong ones
        if (writer == null || relDir != currentRelDir) {
          if (writer != null) { writer.close(); writer = null }
          open(relDir)
        }
        writer.write(r)
      }
      override def commit(): WriterCommitMessage = {
        if (writer != null) { writer.close(); writer = null }
        if (written.isEmpty) GraftNoDataMessage
        else GraftCommitMessage(written.toSeq)
      }
      override def abort(): Unit = close()
      override def close(): Unit =
        if (writer != null) { writer.close(); writer = null }
    }
}

private case object GraftNoDataMessage extends WriterCommitMessage
