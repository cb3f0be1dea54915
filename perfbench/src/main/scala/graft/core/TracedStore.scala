package graft.core

import graft.core.TableStore.{FileEntry, Manifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import perfbench.Tracer

/** [[TableStore]] with a span around each public entry point that the
  * benchmark, the curation code and the merge code call, so the traced run
  * splits their time into table-layer reads, commits and maintenance. It
  * also counts the compare-and-swap commits that lose to a concurrent
  * writer, which the store retries. Behaviour is unchanged: every method
  * delegates to the store itself. It lives in the store's package for the
  * one package-private method it observes. */
final class TracedStore(spark: SparkSession, warehouse: String, t: Tracer)
    extends TableStore(spark, warehouse) {
  private def plan[A](name: String)(body: => A): A = t.span(s"TableStore.$name", "core.read")(body)
  private def write[A](name: String)(body: => A): A = t.span(s"TableStore.$name", "core.commit")(body)
  private def maint[A](name: String)(body: => A): A = t.span(s"TableStore.$name", "core.maint")(body)

  override def manifests(table: String): Seq[Manifest] = plan("manifests")(super.manifests(table))
  override def read(table: String): DataFrame = plan("read")(super.read(table))
  override def readVersion(table: String, v: Long): DataFrame =
    plan("readVersion")(super.readVersion(table, v))
  override def readFiles(table: String, files: Seq[FileEntry]): DataFrame =
    plan("readFiles")(super.readFiles(table, files))
  override def filesHitByKeys(table: String, column: String, keys: DataFrame)
      : (Seq[FileEntry], Seq[FileEntry]) =
    plan("filesHitByKeys")(super.filesHitByKeys(table, column, keys))

  override def commitFiles(table: String, keptFiles: Seq[FileEntry],
      newData: Option[DataFrame], operation: String, partitionBy: Seq[String],
      bloomColumns: Seq[String], baseVersion: Long): Long =
    write("commitFiles")(super.commitFiles(table, keptFiles, newData, operation,
      partitionBy, bloomColumns, baseVersion))
  override def applyCdcMoR(table: String, cdc: DataFrame, keyCols: Seq[String],
      deleteCol: String, streamEpoch: Option[(String, Long)]): Long =
    write("applyCdcMoR")(super.applyCdcMoR(table, cdc, keyCols, deleteCol, streamEpoch))
  override def compact(table: String, targetFileBytes: Long): Long =
    maint("compact")(super.compact(table, targetFileBytes))
  override def expireSnapshots(table: String, keepLast: Int, olderThanMs: Long): Unit =
    maint("expireSnapshots")(super.expireSnapshots(table, keepLast, olderThanMs))

  override private[core] def atomicWriteExclusive(dest: Path, content: String): Unit =
    try super.atomicWriteExclusive(dest, content)
    catch { case e: TableStore.CommitConflictException => t.commitConflict(); throw e }
}
