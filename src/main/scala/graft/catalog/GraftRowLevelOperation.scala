package graft.catalog

import graft.core.{StatsFilter, TableStore}
import graft.core.TableStore.{ColStats, FileEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.graft.StoreWrite
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (file-level copy-on-write) row-level operation for SQL
  * `MERGE INTO` / `UPDATE` / `DELETE` against a [[TableStore]] table.
  *
  * Spark's ReplaceData contract: the operation's scan defines the affected
  * GROUPS; every row the scan returns is replaced by the write's output.
  * Filters Spark pushes into this scan (the UPDATE/DELETE condition) are
  * therefore group-selection hints, NOT row filters — applying them at row
  * (or parquet row-group) granularity would silently drop the carryover
  * rows of partially-affected files. So:
  *
  *  - [[newScanBuilder]] evaluates pushed filters against the manifest's
  *    per-file min/max stats to split the snapshot into (hit, kept) files,
  *    then scans the HIT files in full (no filters reach parquet);
  *  - [[newWriteBuilder]]'s commit replaces exactly the hit files: new
  *    snapshot = kept ∪ written. Untouched files cost zero I/O, same as
  *    the Scala `graft.core.Merge` path.
  *
  * A condition no file stats can bound (or a MERGE, whose ON condition is
  * only known at runtime) degrades safely to hit = all files.
  */
class GraftRowLevelOperation(spark: SparkSession, catalogName: String,
    warehouse: String, tableName: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  private val store = new TableStore(spark, warehouse)
  private val manifest = store.manifests(tableName).maxBy(_.version)
  private val tableSchema =
    DataType.fromJson(manifest.schemaJson).asInstanceOf[StructType]

  // group selection, shared between the scan (set) and the write (read)
  @volatile private var hitFiles: Seq[FileEntry] = manifest.files
  @volatile private var keptFiles: Seq[FileEntry] = Seq.empty

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      private var accepted = Array.empty[Filter]

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        val (hit, kept) = manifest.files.partition(fe =>
          filters.forall(f => fileMayMatch(fe.stats, f)))
        hitFiles = hit
        keptFiles = kept
        accepted = filters
        // group-granular application: every filter is also a residual
        // (we did not row-filter), but ReplaceData re-evaluates the
        // condition in its projection, so none are re-applied on rows.
        filters
      }

      override def pushedFilters(): Array[Filter] = accepted

      override def build(): Scan = new GraftCowScan
    }

  /** Full-width parquet scan over `files`; with `rowIdx` the parquet
    * row-index temporary column is appended to the read schema, which the
    * positional-delete path of [[org.apache.spark.sql.graft.MorScan]]
    * reads its masks against. */
  private def parquetScanOver(files: Seq[FileEntry], rowIdx: Boolean = false): Scan = {
    // Manifest-backed index: no filesystem listing at plan time (see
    // [[org.apache.spark.sql.graft.ManifestFileIndex]]).
    val root = new org.apache.hadoop.fs.Path(warehouse, tableName)
    val b = org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
      spark, new org.apache.spark.sql.graft.ManifestFileIndex(spark, root, files),
      tableSchema, tableSchema, CaseInsensitiveStringMap.empty())
    if (rowIdx) b.pruneColumns(tableSchema.add(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true))
    b.build()
  }

  /** The operation's source scan over `files`. On a merge-on-read snapshot
    * this is a [[org.apache.spark.sql.graft.GraftMorScan]] — the rewrite
    * reads THROUGH the equality and positional deletes, so masked rows are
    * never copied into the replacement files (a raw scan would resurrect
    * them). The commit then carries only the delete files that still mask
    * a kept file; an unfiltered rewrite shears the whole MoR overlay off. */
  private def scanOverFiles(files: Seq[FileEntry]): Scan =
    if (manifest.deleteFiles.isEmpty) parquetScanOver(files)
    else {
      val root = new org.apache.hadoop.fs.Path(warehouse, tableName).toString
      // parquetScanOver pushes no filters, so it is valid for both roles
      org.apache.spark.sql.graft.MorScan.buildScan(spark, root,
        s"$tableName rowlevel", manifest, tableSchema, tableSchema, files,
        fes => parquetScanOver(fes), fes => parquetScanOver(fes, rowIdx = true),
        4000000L)
    }

  /** The operation's scan, with MERGE-time runtime group filtering: for a
    * `MERGE INTO` the affected files are only known once the source is
    * available, so Spark plans a matching-rows subquery over this scan's
    * [[filterAttributes]] and calls [[filter]] with the collected
    * `IN (values...)` predicates before planning input partitions. Each
    * IN-list is evaluated against manifest min/max stats and parquet bloom
    * filters to shrink the hit set; the write's commit then keeps every
    * pruned file untouched — file-level copy-on-write for SQL MERGE, the
    * behavior the reference measured as Iceberg's core win. */
  private class GraftCowScan extends Scan
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
    import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.Predicate

    private var inner: Scan = _
    private def innerScan: Scan = {
      if (inner == null) inner = scanOverFiles(hitFiles)
      inner
    }

    override def readSchema(): StructType = tableSchema
    override def toBatch: org.apache.spark.sql.connector.read.Batch =
      innerScan.toBatch
    override def description(): String =
      s"GraftCowScan($tableName, ${hitFiles.size}/${manifest.files.size} files)"

    /** Exactly ONE attribute: Spark packs multiple filter attributes into
      * a struct-IN that cannot translate to a V2 predicate (the runtime
      * filter silently disappears), so we advertise the single column the
      * snapshot's files are best separated on — the clustered/partition
      * column is the only one pruning can win on anyway. Empty when no
      * column separates files (the rule then skips the subquery). */
    override def filterAttributes(): Array[NamedReference] =
      RuntimePruning.bestPruningColumn(manifest.files, tableSchema,
          manifest.partitionBy)
        .map(c => Expressions.column(c)).toArray

    override def filter(predicates: Array[Predicate]): Unit = {
      val inLists = RuntimePruning.inListsOf(predicates)
      if (inLists.nonEmpty) {
        val (hit, dropped) = RuntimePruning.pruneByInLists(
          new TableStore(spark, warehouse), tableName, hitFiles, inLists)
        hitFiles = hit
        keptFiles = keptFiles ++ dropped
        inner = null // rebuild the parquet scan over the pruned file set
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    StoreWrite.cowBuilder(warehouse, tableName, info,
      cmd.toString.toLowerCase, () => keptFiles, manifest.version)

  private def fileMayMatch(stats: Map[String, ColStats], f: Filter): Boolean =
    StatsFilter.fileMayMatch(stats, f)
}
