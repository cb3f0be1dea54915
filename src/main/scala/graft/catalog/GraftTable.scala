package graft.catalog

import java.util

import graft.core.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.graft.StoreWrite
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 table over one [[TableStore]] snapshot: reads delegate to Spark's
  * own ParquetTable scan (vectorized reads, pushdown, pruning inherited
  * wholesale); writes go through [[StoreWrite]] into the store's atomic
  * commit protocol; SQL `MERGE INTO` / `UPDATE` / `DELETE` arrive via
  * `SupportsRowLevelOperations` as group-based copy-on-write (the scan is
  * the current snapshot, the rewritten rows replace it — the file-pruned
  * copy-on-write variant stays on the Scala `graft.core.Merge` API).
  */
class GraftTable(spark: SparkSession, catalogName: String, warehouse: String,
    tableName: String, m: TableStore.Manifest)
    extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations {

  private val tableSchema =
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]

  override def name(): String = s"$catalogName.$tableName"
  override def schema(): StructType = tableSchema

  /** Store coordinates for rules that need the table's state at analysis
    * time (identity allocation reads the committed watermark). */
  def warehouseDir: String = warehouse
  def storeTable: String = tableName

  /** Advertise the manifest's partition spec (identity columns, or bucket
    * transforms recovered from their name-encoded `__bucket<N>_<col>`
    * form) — the analyzer validates `INSERT OVERWRITE ... PARTITION (...)`
    * clauses against this, and DESCRIBE shows it. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val Bucketed = """__bucket(\d+)_(.+)""".r
    m.partitionBy.map {
      case Bucketed(n, c) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n.toInt, c)
      case c => org.apache.spark.sql.connector.expressions.Expressions.identity(c)
    }.toArray
  }
  /** The manifest's CHECK constraints, in DSv2 form — DESCRIBE shows
    * them, and the analyzer can rely on them. Marked VALID: add-time
    * validated every existing row, and every write path enforces per
    * row inside the write job (TableStore.enforceConstraints). */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    m.constraints.map { case (nm, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(nm).predicateSql(sql)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new org.apache.spark.sql.graft.StoreReadScanBuilder(spark,
      s"$catalogName.$tableName@v${m.version}", warehouse, tableName, m,
      tableSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    StoreWrite.builder(warehouse, tableName, info)

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    // On a merge-on-read snapshot the operation's scan reads THROUGH the
    // equality and positional deletes (GraftRowLevelOperation
    // .scanOverFiles), so the copy-on-write rewrite materializes them
    // instead of resurrecting dead rows; the commit drops every delete
    // file the rewrite made dead.
    () => new GraftRowLevelOperation(spark, catalogName, warehouse, tableName,
      info.command())
}
