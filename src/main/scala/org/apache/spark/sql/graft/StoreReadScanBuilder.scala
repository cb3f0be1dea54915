package org.apache.spark.sql.graft

import graft.core.StatsFilter
import graft.core.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Read-path scan builder for catalog tables: prunes the snapshot's FILE
  * LIST against manifest min/max stats (and partition tuples, which are
  * folded into the stats) BEFORE delegating to Spark's ParquetScanBuilder
  * over the surviving files — the manifest-level skip Iceberg's metadata
  * gives a query, on top of (not instead of) parquet row-group pruning
  * and column pruning, which are delegated wholesale to the inner builder.
  * Lives in org.apache.spark.sql.graft for the private[sql] catalyst
  * pushdown interface, like VectorExpressions. */
class StoreReadScanBuilder(spark: SparkSession, name: String,
    warehouse: String, tableName: String, m: TableStore.Manifest,
    tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var inner: ScanBuilder = _
  private var required: Option[StructType] = None
  private var lastFilters: Seq[Expression] = Seq.empty
  private var lastV1: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty
  private var keptFiles: Seq[TableStore.FileEntry] = m.files
  private var aggResult: Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = None

  // -------------------------------------------------------- column mapping
  // The builder speaks LOGICAL names to Spark and to the manifest (whose
  // in-memory stats are logical-keyed); only the INNER parquet builders
  // see the pinned PHYSICAL names actually inside the files. Rows are
  // positional, so translation is pure name bookkeeping: schemas rename
  // on the way in, `readSchema` renames back on the way out, and pushed
  // filter expressions rename their attribute references.
  private val cmap: Map[String, String] = m.columnMap.toMap
  private val cmapRev: Map[String, String] = cmap.map(_.swap)

  private def physSchema(st: StructType): StructType =
    if (cmap.isEmpty) st
    else StructType(st.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))

  private[graft] def logiSchema(st: StructType): StructType =
    if (cmap.isEmpty) st
    else StructType(st.fields.map(f =>
      f.copy(name = cmapRev.getOrElse(f.name, f.name))))

  private def physExprs(es: Seq[Expression]): Seq[Expression] =
    if (cmap.isEmpty) es
    else es.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if cmap.contains(a.name) => a.withName(cmap(a.name))
    })

  private def logiExprs(es: Seq[Expression]): Seq[Expression] =
    if (cmap.isEmpty) es
    else es.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if cmapRev.contains(a.name) => a.withName(cmapRev(a.name))
    })

  /** Metadata-only aggregates (Iceberg's `SELECT count(*)` answer): an
    * unfiltered COUNT(*)/MIN/MAX — ungrouped, or GROUPed BY identity
    * partition columns — is answered from the manifest alone: row counts
    * and per-file min/max were harvested from parquet footers at COMMIT
    * time, and partitioned files each hold exactly one partition tuple,
    * so the query reads ZERO data files at ANY table size. Pushed
    * completely (the scan emits the final row per group on the driver via
    * [[org.apache.spark.sql.connector.read.LocalScan]]). Bails to the
    * normal scan path whenever exactness is not provable: any pushed
    * filter, a GROUP BY on a non-partition column, merge-on-read delete
    * files, a file with rows but no recorded count or no stats at all, a
    * stat kind that does not round-trip the column's type, or a column
    * that ever went through DROP COLUMN. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    MetadataAgg.compute(m, lastFilters.nonEmpty, agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = MetadataAgg.compute(m, lastFilters.nonEmpty, agg)
    aggResult.isDefined
  }

  private def innerBuilder: ScanBuilder = {
    if (inner == null) inner = parquetBuilderOver(m.files)
    inner
  }

  /** Both pushed-limit shapes are PARTIAL: the pruned scan returns a
    * superset of some valid answer set, and Spark re-applies the global
    * limit / TakeOrderedAndProject above it. (Required explicitly: both
    * parent traits default this and Scala needs the diamond resolved.) */
  override def isPartiallyPushed(): Boolean = true

  /** Replace the surviving file set (LIMIT / top-k pruning) and rebuild
    * the inner parquet builder with the pushdown state replayed. */
  private def shrinkTo(subset: Seq[TableStore.FileEntry]): Unit = {
    keptFiles = subset
    inner = parquetBuilderOver(subset)
    required.foreach(r => inner match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(physSchema(r))
      case _ =>
    })
  }

  /** LIMIT k scans only a fewest-files cover of k rows — sound exactly
    * when nothing inside the scan drops rows: no pushed filters (a
    * residual row filter could starve the limit) and no merge-on-read
    * delete overlays. Partial pushdown: Spark keeps the global limit. */
  override def pushLimit(limit: Int): Boolean = {
    if (lastFilters.nonEmpty || m.deleteFiles.nonEmpty || aggResult.isDefined)
      return false
    graft.core.TopKFilePruning.forLimit(keptFiles, limit) match {
      case Some(subset) => shrinkTo(subset); true
      case None => false
    }
  }

  /** ORDER BY ... LIMIT k prunes files no valid top-k can need, from
    * footer min/max + null counts on the LEADING sort key (strict-
    * dominance witnesses, so further tie-break columns stay safe — see
    * [[graft.core.TopKFilePruning.forTopK]]). Partial pushdown: Spark
    * keeps the global TakeOrderedAndProject over the surviving files. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (lastFilters.nonEmpty || m.deleteFiles.nonEmpty || aggResult.isDefined
        || orders.isEmpty)
      return false
    val head = orders.head
    val colName = head.expression() match {
      case f: org.apache.spark.sql.connector.expressions.FieldReference
          if f.fieldNames().length == 1 => f.fieldNames().head
      case _ => return false
    }
    val asc = head.direction() ==
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING
    val nullsFirst = head.nullOrdering() ==
      org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST
    graft.core.TopKFilePruning.forTopK(keptFiles, colName, asc, nullsFirst,
      limit, m.droppedColumns.toSet, singleKey = orders.length == 1) match {
      case Some(subset) => shrinkTo(subset); true
      case None => false
    }
  }

  private def parquetBuilderOver(files: Seq[TableStore.FileEntry]): ScanBuilder = {
    // Manifest-backed index: scan planning from snapshot metadata alone,
    // no filesystem listing (see [[ManifestFileIndex]]).
    val root = new org.apache.hadoop.fs.Path(warehouse, tableName)
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
      spark, new ManifestFileIndex(spark, root, files),
      physSchema(tableSchema), physSchema(tableSchema), options)
  }

  /** Fresh parquet scan over `files` with the builder's pushdown state
    * (filters + column pruning) replayed — runtime filtering rebuilds the
    * inner scan through this after shrinking the file set. */
  private def scanOver(files: Seq[TableStore.FileEntry]): Scan = {
    val b = parquetBuilderOver(files)
    b match {
      case p: SupportsPushDownCatalystFilters if lastFilters.nonEmpty =>
        p.pushFilters(physExprs(lastFilters))
      case _ =>
    }
    b match {
      case p: SupportsPushDownRequiredColumns =>
        required.foreach(r => p.pruneColumns(physSchema(r)))
      case _ =>
    }
    b.build()
  }

  /** Fresh parquet scan over `files` with the pushdown state replayed AND
    * the parquet row-index temporary column appended to the pruned
    * schema — the positional-MoR path ([[MorScan.buildScan]]): Spark's
    * parquet readers (vectorized and parquet-mr) recognize the column by
    * name and fill it with the TRUE within-file row index computed from
    * row-group offsets, so positional masks stay correct under predicate
    * pushdown, row-group skipping, and byte-range splits. */
  private def scanOverRowIdx(files: Seq[TableStore.FileEntry]): Scan = {
    val b = parquetBuilderOver(files)
    b match {
      case p: SupportsPushDownCatalystFilters if lastFilters.nonEmpty =>
        p.pushFilters(physExprs(lastFilters))
      case _ =>
    }
    val base = physSchema(required.getOrElse(tableSchema))
    val withIdx = StructType(base.fields :+
      org.apache.spark.sql.types.StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        org.apache.spark.sql.types.LongType, nullable = true))
    b match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(withIdx)
      case _ =>
    }
    b.build()
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // each conjunct translatable to a source filter prunes the file list;
    // filters on transform-partition SOURCE columns additionally prune
    // through the derived partition value (hidden partitioning)
    val v1 = filters.flatMap(e => DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = true))
    val derived = graft.core.TransformPruning.derive(v1, m.partitionBy,
      spark.sessionState.conf.sessionLocalTimeZone)
    val effective = v1 ++ derived
    val kept =
      if (effective.isEmpty) m.files
      else m.files.filter(fe =>
        effective.forall(f => StatsFilter.fileMayMatch(fe.stats, f)))
    keptFiles = kept
    lastFilters = filters
    // v1 only, not `derived`: the derived partition-transform conjuncts
    // restate v1 predicates — counting both would square the selectivity
    lastV1 = v1
    inner = parquetBuilderOver(kept)
    required.foreach(r => inner match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(physSchema(r))
      case _ =>
    })
    inner match {
      case p: SupportsPushDownCatalystFilters =>
        logiExprs(p.pushFilters(physExprs(filters)))
      case _ => filters
    }
  }

  override def pushedFilters(): Array[Predicate] = innerBuilder match {
    case p: SupportsPushDownCatalystFilters => p.pushedFilters
    case _ => Array.empty
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(requiredSchema)
    innerBuilder match {
      case p: SupportsPushDownRequiredColumns =>
        p.pruneColumns(physSchema(requiredSchema))
      case _ =>
    }
  }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) => new MetadataAggScan(name, schema, rows)
    case None if m.deleteFiles.nonEmpty => buildMorScan()
    case None => new GraftStatsScan(spark, warehouse, tableName,
      innerBuilder.build(), keptFiles, tableSchema, scanOver,
      options.getBoolean("skipRewrites", false), m.partitionBy,
      options.getLong("maxVersionsPerTrigger", 0L),
      pushedV1 = lastV1, totalRows = m.files.map(_.rowCount).sum,
      toLogical = logiSchema)
  }

  /** Merge-on-read snapshot: one pruned parquet scan over the kept files
    * + broadcast delete filters — equality, positional, or both (see
    * [[MorScan.buildScan]]). Equality key columns are forced into the
    * pruned schema — Spark projects them back out. */
  private def buildMorScan(): Scan = {
    val keyCols = m.deleteFiles.filterNot(TableStore.isPositional)
      .headOption.map(_.keyCols).getOrElse(Seq.empty)
    val base = required.getOrElse(tableSchema)
    val withKeys = StructType(base.fields ++
      keyCols.filterNot(base.fieldNames.contains).map(k =>
        tableSchema.fields(tableSchema.fieldIndex(k))))
    required = Some(withKeys)
    val root = new org.apache.hadoop.fs.Path(warehouse, tableName).toString
    MorScan.buildScan(spark, root, name, m, withKeys, tableSchema,
      keptFiles, scanOver, scanOverRowIdx,
      options.getLong("morMaxDeleteKeys", 4000000L))
  }
}

/** Bucket-grouped batch for storage-partitioned joins: every parquet
  * partition is tagged with its bucket id ([[HasPartitionKey]]), so Spark
  * groups both join sides by key and plans the join with NO exchange.
  *
  * ONE inner parquet scan serves every bucket. The previous shape built a
  * full DSv2 scan PER BUCKET (ScanBuilder + ManifestFileIndex + pushdown
  * replay + planInputPartitions, then one reader factory — and one
  * broadcast hadoop conf — per bucket); Spark resolves
  * KeyGroupedPartitioning by calling `planInputPartitions()` during
  * PLANNING, so a 32-bucket join side paid 32 scan constructions of pure
  * driver time before the first task (q97 measured ~2 s of `executedPlan`
  * with no job running — opt guide §7.3). Here the bucket→file grouping
  * is already in the manifest, so the per-bucket partitions are built
  * directly: one [[PartitionedFile]] per data file, keyed by its bucket
  * value. Reader creation (row AND columnar — vectorized parquet is
  * preserved) delegates to the single inner scan's factory; a file is one
  * partition (never byte-range split), which is the Iceberg SPJ contract
  * anyway — a bucket's files must stay in that bucket's task group. */
private final class BucketGroupedBatch(
    spark: SparkSession, root: org.apache.hadoop.fs.Path,
    groups: Seq[(Int, Seq[TableStore.FileEntry])],
    rebuildAll: Seq[TableStore.FileEntry] => Scan)
    extends org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private lazy val whole: org.apache.spark.sql.connector.read.Batch =
    rebuildAll(groups.flatMap(_._2)).toBatch

  override def planInputPartitions(): Array[InputPartition] = {
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qroot = f.makeQualified(root)
    var idx = -1
    groups.flatMap { case (b, fes) =>
      val key = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](b))
      fes.map { fe =>
        idx += 1
        val pf = org.apache.spark.sql.execution.datasources.PartitionedFile(
          org.apache.spark.sql.catalyst.InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPath(
            new org.apache.hadoop.fs.Path(qroot, fe.path)),
          0L, fe.sizeBytes, Array.empty[String], 0L, fe.sizeBytes)
        BucketKeyedPartition(key,
          org.apache.spark.sql.execution.datasources.FilePartition(
            idx, Array(pf))): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BucketDelegatingFactory(whole.createReaderFactory())
}

private case class BucketKeyedPartition(
    key: org.apache.spark.sql.catalyst.expressions.GenericInternalRow,
    inner: org.apache.spark.sql.execution.datasources.FilePartition)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

private class BucketDelegatingFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
  private def un(p: InputPartition) = p.asInstanceOf[BucketKeyedPartition]
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(un(p).inner)
  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    inner.createReader(un(p).inner)
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(un(p).inner)
}

/** Pre-computed aggregate rows (one per group) served driver-locally —
  * the plan becomes a `LocalTableScan`; no task, no file, no shuffle. */
private final class MetadataAggScan(name: String, schema: StructType,
    aggRows: Seq[org.apache.spark.sql.catalyst.InternalRow])
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    aggRows.toArray
  override def description(): String = s"GraftMetadataAgg $name"
}

/** Computes a completely-pushed aggregation from manifest metadata, or
  * None when any exactness condition fails (the caller then scans). */
private object MetadataAgg {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.expressions.FieldReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  /** The manifest stat kind that round-trips `dt` exactly (None = never
    * push this type). Timestamps/dates store their internal long/int form;
    * strings store the FULL footer min/max (never truncated). */
  private def expectedKind(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType => Some("long")
    case FloatType | DoubleType => Some("double")
    case StringType => Some("string")
    case d: DecimalType => Some(s"dec${d.scale}")
    case _ => None
  }

  private def internalValue(dt: DataType, s: String): Any = dt match {
    case ByteType => s.toLong.toByte
    case ShortType => s.toLong.toShort
    case IntegerType | DateType => s.toLong.toInt
    case LongType | TimestampType => s.toLong
    case FloatType => s.toDouble.toFloat
    case DoubleType => s.toDouble
    case StringType => UTF8String.fromString(s)
    case d: DecimalType => org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal(new java.math.BigInteger(s), d.scale),
      d.precision, d.scale)
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  private def cmpInKind(kind: String, a: String, b: String): Int =
    if (kind == "long") java.lang.Long.compare(a.toLong, b.toLong)
    else if (kind == "double") java.lang.Double.compare(a.toDouble, b.toDouble)
    else if (kind.startsWith("dec"))
      new java.math.BigInteger(a).compareTo(new java.math.BigInteger(b))
    else TableStore.utf8Cmp(a, b)

  /** MIN or MAX of `c` over the whole snapshot from per-file stats.
    * Outer None = cannot push; Some(null) = SQL NULL (no non-null value
    * anywhere). A harvested file (it has stats for SOME column) missing
    * stats for a stat-able column holds only nulls there — parquet omits
    * footer min/max exactly when no non-null value exists — so it
    * contributes nothing to MIN/MAX; the same holds for files written
    * before the column was added (they read as null). A file with rows
    * but NO stats at all has unknown provenance and bails, as does a
    * column that ever went through DROP COLUMN (old files' stats would
    * describe values the tombstone nulls out). */
  private def extremeOf(m: TableStore.Manifest, dt: DataType, c: String,
      isMin: Boolean): Option[Any] = {
    val kind = expectedKind(dt).getOrElse(return None)
    if (m.droppedColumns.contains(c)) return None
    val floating = dt == FloatType || dt == DoubleType
    val contributing = scala.collection.mutable.ArrayBuffer.empty[String]
    m.files.foreach { f =>
      f.stats.get(c) match {
        case Some(cs) =>
          if (cs.kind != kind) return None
          contributing += (if (isMin) cs.min else cs.max)
        case None =>
          // For floats, parquet DROPS the stats when a NaN was seen — the
          // file may still hold real values, so the all-null inference is
          // unsound there and absence must bail.
          if (floating || (f.rowCount > 0 && f.stats.isEmpty)) return None
      }
    }
    if (contributing.isEmpty) return Some(null)
    val best = contributing.reduce { (a, b) =>
      val better = if (isMin) cmpInKind(kind, a, b) <= 0
                   else cmpInKind(kind, a, b) >= 0
      if (better) a else b
    }
    // Parquet's footer convention widens zero bounds (min written as -0.0,
    // max as +0.0 whenever either zero is present), so a zero extreme
    // cannot be attributed to the data's actual sign — and a NaN extreme
    // means total-order stats from an old writer. Both bail to the scan.
    if (floating) {
      val d = best.toDouble
      if (d == 0.0 || d.isNaN) return None
    }
    try Some(internalValue(dt, best)) catch { case _: Exception => None }
  }

  private def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression,
      schema: StructType): Option[StructField] = e match {
    case f: FieldReference if f.fieldNames().length == 1 =>
      schema.fields.find(_.name == f.fieldNames().head)
    case _ => None
  }

  /** Parse a partition-directory string back to the column's catalyst
    * internal value through Spark's own string cast (the inverse of the
    * writer's Cast-to-string rendering). */
  private def partitionInternalValue(dt: DataType, s: String): Option[Any] = {
    if (s == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME) return Some(null)
    val v = org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromString(s), StringType), dt, Option("UTC")).eval(null)
    // a value the cast cannot parse (corrupt dir name) must bail, not
    // silently group under null
    if (v == null) None else Some(v)
  }

  def compute(m: TableStore.Manifest, filtered: Boolean, agg: Aggregation)
      : Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    if (filtered || m.deleteFiles.nonEmpty) return None
    // a sized file with no recorded row count would falsify COUNT(*)
    if (m.files.exists(f => f.rowCount <= 0 && f.sizeBytes > 0)) return None
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[StructType]
    // GROUP BY is served only over identity partition columns: each file
    // holds exactly one partition tuple (clustered writes roll files per
    // value; appends inherit the spec), so grouping files by tuple is
    // grouping rows by value.
    val groupFields = agg.groupByExpressions().toSeq.map { e =>
      val f = fieldOf(e, schema).getOrElse(return None)
      if (!m.partitionBy.contains(f.name) ||
          m.droppedColumns.contains(f.name)) return None
      f
    }
    if (groupFields.nonEmpty &&
        m.files.exists(f => !groupFields.forall(g =>
          f.partitionValues.contains(g.name)))) return None
    val groups: Seq[(Seq[String], Seq[TableStore.FileEntry])] =
      if (groupFields.isEmpty) Seq((Seq.empty, m.files))
      else m.files.groupBy(f => groupFields.map(g => f.partitionValues(g.name)))
        .toSeq.sortBy(_._1.mkString("\u0000"))
    val rows = groups.map { case (tuple, files) =>
      val sub = m.copy(files = files)
      val groupVals = groupFields.zip(tuple).map { case (g, s) =>
        partitionInternalValue(g.dataType, s).getOrElse(return None)
      }
      val aggVals = agg.aggregateExpressions().toSeq.map {
        case _: CountStar => files.map(_.rowCount).sum: Any
        case mn: Min =>
          val f = fieldOf(mn.column(), schema).getOrElse(return None)
          extremeOf(sub, f.dataType, f.name, isMin = true).getOrElse(return None)
        case mx: Max =>
          val f = fieldOf(mx.column(), schema).getOrElse(return None)
          extremeOf(sub, f.dataType, f.name, isMin = false).getOrElse(return None)
        case _ => return None
      }
      new GenericInternalRow((groupVals ++ aggVals).toArray)
        : org.apache.spark.sql.catalyst.InternalRow
    }
    val aggFields = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => StructField("count(*)", LongType, nullable = false)
      case mn: Min =>
        val f = fieldOf(mn.column(), schema).getOrElse(return None)
        StructField(s"min(${f.name})", f.dataType)
      case mx: Max =>
        val f = fieldOf(mx.column(), schema).getOrElse(return None)
        StructField(s"max(${f.name})", f.dataType)
      case _ => return None
    }
    Some((StructType(groupFields.map(g => StructField(g.name, g.dataType))
      ++ aggFields), rows))
  }
}

/** Wraps the parquet scan of one pruned snapshot to (a) report EXACT
  * statistics from the manifest (row counts + bytes of the surviving
  * files) — the planner's broadcast/AQE decisions come from truth instead
  * of file-size heuristics — and (b) accept RUNTIME filters: in a star
  * join whose fact-side filter arrives via a dimension, Spark plans a
  * dynamic-pruning subquery over [[filterAttributes]] and calls
  * [[filter]] with the dimension's join-key IN-list before input
  * partitions are planned; the manifest ranges + parquet blooms then drop
  * fact files no surviving key can touch (the reference's headline
  * partitioned-fact scenario — docs/README.md:326-329). */
class GraftStatsScan(spark: SparkSession, warehouse: String, tableName: String,
    initialInner: Scan, initialFiles: Seq[TableStore.FileEntry],
    tableSchema: StructType,
    rebuild: Seq[TableStore.FileEntry] => Scan,
    skipRewrites: Boolean = false,
    partitionBy: Seq[String] = Seq.empty,
    maxVersionsPerTrigger: Long = 0L,
    pushedV1: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
    totalRows: Long = 0L,
    toLogical: StructType => StructType = identity)
    extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private var files = initialFiles
  private var innerScan: Scan = initialInner

  /** Files surviving static + runtime pruning (spec/diagnostics hook). */
  def currentFileCount: Int = files.size
  def table: String = tableName
  def inner: Scan = innerScan

  // ------------------------------------------------ storage-partitioned join
  /** The single-bucket-transform spec, when the table has one. */
  private val spjBucket: Option[(String, Int, String)] = partitionBy match {
    case Seq(bc @ TableStore.BucketRe(n, c)) => Some((bc, n.toInt, c))
    case _ => None
  }

  private def spjConfOn: Boolean =
    spark.sessionState.conf.getConfString(
      "spark.sql.sources.v2.bucketing.enabled", "false") == "true"

  /** Per-bucket file groups when a storage-partitioned join is possible:
    * the table is bucket-partitioned, the user opted in
    * (spark.sql.sources.v2.bucketing.enabled), and every surviving file
    * carries an exact bucket value (a null-bucket or spec-less file holds
    * rows of unknown buckets — SPJ must not claim co-partitioning then). */
  private def spjGroups: Option[Seq[(Int, Seq[TableStore.FileEntry])]] =
    if (!spjConfOn) None
    else spjBucket.flatMap { case (bc, _, _) =>
      val parsed = files.map { f =>
        f.partitionValues.get(bc)
          .filter(_ != "__HIVE_DEFAULT_PARTITION__")
          .flatMap(v => scala.util.Try(v.toInt).toOption)
          .map(_ -> f)
      }
      if (parsed.exists(_.isEmpty)) None
      else Some(parsed.flatten.groupBy(_._1).toSeq
        .map { case (b, fs) => b -> fs.map(_._2) }.sortBy(_._1))
    }

  /** Reported clustering: `bucket(n, col)` over OUR catalog function —
    * two graft tables bucketed the same way then join with ZERO shuffle
    * (Spark matches the transforms via the FunctionCatalog, the
    * mechanism behind Iceberg's storage-partitioned joins). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (spjBucket, spjGroups) match {
      case (Some((_, n, c)), Some(groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.apply(
            "bucket",
            org.apache.spark.sql.connector.expressions.Expressions.literal(n),
            org.apache.spark.sql.connector.expressions.Expressions.column(c))),
          groups.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def readSchema(): StructType = toLogical(innerScan.readSchema())
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    spjGroups match {
      case Some(groups) =>
        new BucketGroupedBatch(spark,
          new org.apache.hadoop.fs.Path(warehouse, tableName), groups, rebuild)
      case None => innerScan.toBatch
    }

  /** Streaming face: micro-batches of newly committed snapshots, planned
    * through the same pruned-parquet `rebuild` as batch reads. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(spark, warehouse, tableName, skipRewrites,
      rebuild, maxVersionsPerTrigger)
  override def description(): String =
    s"${innerScan.description()} [graft ${files.size}/${initialFiles.size} files]"

  // Cached: planning rules may ask for filter attributes repeatedly, and
  // the fallback scoring pass is quadratic in (sampled) file count.
  private lazy val pruningColumn: Option[String] =
    graft.catalog.RuntimePruning.bestPruningColumn(
      initialFiles, readSchema(), partitionBy)

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // Advertise only columns that survived column pruning: Spark resolves
    // these refs against the scan's OUTPUT (V2ExpressionUtils.resolveRef),
    // so naming a pruned-away column fails the whole query at planning.
    // A best-separation column outside the projection cannot receive a
    // runtime IN-list anyway (runtime filters come from join keys, which
    // are always read). When a storage-partitioned join is in play the
    // scan must NOT shrink its reported bucket groups after planning, so
    // runtime filtering is disabled — SPJ supersedes it for joins anyway.
    if (spjGroups.isDefined) Array.empty
    else pruningColumn
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.column(c))
      .toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val inLists = graft.catalog.RuntimePruning.inListsOf(predicates)
    if (inLists.nonEmpty) {
      val (hit, _) = graft.catalog.RuntimePruning.pruneByInLists(
        new TableStore(spark, warehouse), tableName, files, inLists)
      if (hit.size < files.size) {
        files = hit
        innerScan = rebuild(files)
      }
    }
  }

  /** ANALYZE-fed planner statistics: row count + size come from the
    * manifest (exact for the current snapshot); per-column NDV and null
    * counts come from the latest `$stats` file at or below the scanned
    * version when `ANALYZE` has run ([[TableStore.analyzeTable]] — KMV
    * NDV, exact nulls). Spark's `transformV2Stats` folds the column map
    * into catalyst `ColumnStat`s, so with `spark.sql.cbo.enabled` (+
    * `joinReorder.enabled`) join-order and build-side decisions see real
    * NDVs instead of defaults. Stats may lag the snapshot (explicit in
    * `$stats.stale`); estimates need freshness, not exactness. */
  // loaded at most once per scan instance, and only when CBO is on —
  // estimateStatistics sits on the planning path of every query, and
  // with CBO off the column map would be read, parsed, and discarded
  private lazy val analyzeColStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    try {
      if (spark.sessionState.conf.cboEnabled)
        new TableStore(spark, warehouse).columnStats(tableName).foreach {
          case (_, _, cols) => cols.foreach { case (name, nulls, ndv, _) =>
            if (tableSchema.fieldNames.contains(name))
              m.put(org.apache.spark.sql.connector.expressions.Expressions
                  .column(name),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(ndv)
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(nulls)
                })
          }
        }
    } catch { // stats are advisory, never fail a scan — but fatal errors
      // (OOM, interrupt) must keep propagating
      case scala.util.control.NonFatal(_) => ()
    }
    m
  }

  /** Estimated fraction of kept rows surviving the PUSHED filters —
    * [[graft.core.SelectivityEstimate]] over safe-direction evidence:
    * equality/IN bounded by ANALYZE maxFreq (skew-proof, staleness
    * padded by rows appended since the analyzed snapshot), IS NULL by
    * the null count, ranges interpolated against the current manifest's
    * exact min/max. This is what turns a selectively-filtered branch
    * into a STATIC broadcast — with CBO off, `JoinSelection` consults
    * exactly the `sizeInBytes` below, and without scaling it a 0.1%
    * filter still plans a sort-merge join whose shuffle maps AQE can
    * only un-waste after they've run. Lazy: priced once per scan, off
    * the no-filter fast path entirely. */
  private lazy val filterSelectivity: Double = {
    val on = spark.sessionState.conf.getConfString(
      "spark.graft.stats.filterEstimation", "true") == "true"
    val keptRows = files.map(_.rowCount).sum
    if (!on || pushedV1.isEmpty || keptRows <= 0L) 1.0
    else try {
      val analyzed = new TableStore(spark, warehouse).columnStats(tableName)
      // rows appended since ANALYZE could ALL be the hot key / null —
      // pad the bounds so they stay upper bounds on the current snapshot
      val growth = analyzed
        .map { case (_, aRows, _) => math.max(0L, totalRows - aRows) }
        .getOrElse(0L)
      val evidence: String => Option[graft.core.SelectivityEstimate.Evidence] =
        c => analyzed.flatMap(_._3.find(_._1 == c)).map {
          case (_, nulls, _, maxFreq) =>
            graft.core.SelectivityEstimate.Evidence(
              if (maxFreq <= 0L) 0L else maxFreq + growth, nulls + growth)
        }
      val range: String => Option[(Double, Double)] = c => {
        val bounds = files.flatMap(f => f.stats.get(c).flatMap(s =>
          for {
            mn <- graft.core.SelectivityEstimate.statToDouble(s.min, s.kind)
            mx <- graft.core.SelectivityEstimate.statToDouble(s.max, s.kind)
          } yield (mn, mx)))
        // every kept file must carry the stat: a stat-less file could
        // hold rows anywhere, so the global range would be a lie
        if (bounds.nonEmpty && bounds.size == files.size)
          Some((bounds.map(_._1).min, bounds.map(_._2).max))
        else None
      }
      graft.core.SelectivityEstimate.estimate(
        pushedV1, keptRows, evidence, range)
    } catch { case scala.util.control.NonFatal(_) => 1.0 }
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val colStats = analyzeColStats
    val sel = filterSelectivity
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L,
          math.ceil(files.map(_.sizeBytes).sum * sel).toLong))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(if (sel < 1.0) 1L else 0L,
          math.ceil(files.map(_.rowCount).sum * sel).toLong))
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }
}
