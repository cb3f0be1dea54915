package graft.curation

import graft.core.{Merge, TableStore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Type-2 SCD curation over [[TableStore]] tables (SURVEY.md §2A A7-A13).
  *
  * Reproduces the reference's three curation use cases
  * (reference/docs/README.md:90-104):
  *  - [[bulkInsert]] — full load + SCD2 columns
  *    (reference/src/data_curation/glue_jobs/pyspark_functions.py:21-31);
  *  - [[scd2Simple]] — one update per key per batch: the result of the
  *    reference's MERGE with the merge-key staging trick
  *    (pyspark_functions.py:40-137), computed in one pass;
  *  - [[scd2Complex]] — multiple and late-arriving updates per key
  *    (pyspark_functions.py:142-251): the version chain of affected keys is
  *    recomputed with a LEAD window and swapped in atomically.
  *
  * Plus the delta-report operators: [[latestPerKey]] dedup and the 3-branch
  * update/delete/insert CDC merge (reference/src/data_derivation/
  * athena_iceberg/python/updating_db_with_deltas_iceberg.ipynb cell 26).
  *
  * Scale: both merges are file-level copy-on-write. They read only the
  * files [[TableStore.filesHitByKeys]] cannot rule out, read them once, and
  * carry the rest into the new snapshot untouched. scd2Simple shuffles
  * nothing: its join to the delta's (pk, ts) broadcasts when the delta is
  * small. scd2Complex shuffles once: only the *affected keys'* history
  * (split off by broadcast semi/anti joins) and the delta go through the
  * one (pk, ts)-ordered window that de-duplicates and re-chains them. Both
  * commit against the snapshot they planned on and replan when a rival
  * commit lands first.
  */
object Scd2 {

  /** Open-interval sentinel (pyspark_functions.py:314). */
  val SentinelTs = "2250-01-01 00:00:00"
  private def sentinel: Column = to_timestamp(lit(SentinelTs))

  /** A7: derive `start_datetime`, `end_datetime`, `is_current` for a fresh
    * (all-current) batch. */
  def withScd2Columns(df: DataFrame, tsCol: String = "extraction_timestamp"): DataFrame =
    df.withColumn("start_datetime", col(tsCol))
      .withColumn("end_datetime", sentinel)
      .withColumn("is_current", lit(true))

  /** A10: bulk insert — full load + SCD2 columns committed as a snapshot. */
  def bulkInsert(store: TableStore, table: String, fullLoad: DataFrame,
      tsCol: String = "extraction_timestamp"): Long =
    store.commit(table, withScd2Columns(fullLoad, tsCol), "bulk_insert")

  /** A11/A12: SCD2 upsert assuming ≤1 delta row per key and no late
    * arrivals (the reference's `scd2_simple`, whose MERGE stages the delta
    * as two legs: one closes the matched current row or inserts a new key,
    * the other inserts the new version of a key already tracked). Every
    * delta row is thus inserted exactly once, as a new current version,
    * and a current row is closed when a delta row of its key is newer.
    * That is computed in one pass over the hit files: the target is left
    * joined to the delta's (pk, ts) on `pk && is_current`, and the delta
    * rows are unioned in. The output is written into no more files than
    * the merge replaces.
    */
  def scd2Simple(store: TableStore, table: String, delta: DataFrame,
      pkCol: String = "pk", tsCol: String = "extraction_timestamp"): Long =
    TableStore.retryOnConflict(Retries) {
      val base = store.manifests(table).maxBy(_.version)
      val (hitFiles, untouchedFiles) =
        store.filesHitByKeys(table, pkCol, delta.select(col(pkCol)))
      val target = store.readFiles(table, hitFiles)
      val versions = delta.select(col(pkCol).as("__pk"), col(tsCol).as("__ts"))
      val newer = col("__ts") > col(tsCol)
      val closed = target
        .join(versions, col(pkCol) === col("__pk") && col("is_current"), "left")
        .select(target.schema.fields.toSeq.map { f =>
          val c = f.name match {
            case "end_datetime" => when(newer, col("__ts")).otherwise(col(f.name))
            case "is_current" => when(newer, lit(false)).otherwise(col(f.name))
            case n => col(n)
          }
          c.cast(f.dataType).as(f.name)
        }: _*)
      val inserted = withScd2Columns(delta, tsCol)
      val insertedCols = inserted.columns.toSet
      val out = closed.unionByName(inserted.select(target.schema.fields.toSeq.map { f =>
        (if (insertedCols.contains(f.name)) col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)
      }: _*))
      store.commitFiles(table, untouchedFiles,
        Some(out.coalesce(math.max(1, hitFiles.size))), "scd2_simple",
        base.partitionBy, Seq.empty, base.version)
    }

  /** A12/A13: SCD2 with multiple + late-arriving updates per key
    * (`scd2_complex`). The full history of *affected* keys is unioned with
    * the delta, de-duplicated on (pk, ts), re-chained with
    * `LEAD(ts) OVER (PARTITION BY pk ORDER BY ts)`
    * (pyspark_functions.py:219-220), and swapped in for those keys.
    * Idempotent on replayed batches and independent of delta arrival order.
    */
  def scd2Complex(store: TableStore, table: String, delta: DataFrame,
      pkCol: String = "pk", tsCol: String = "extraction_timestamp"): Long =
    TableStore.retryOnConflict(Retries) {
      val base = store.manifests(table).maxBy(_.version)
      // File-level copy-on-write: files whose pk range the delta cannot
      // touch carry into the new snapshot without being read or rewritten.
      val (hitFiles, untouchedFiles) =
        store.filesHitByKeys(table, pkCol, delta.select(col(pkCol)))
      val target = store.readFiles(table, hitFiles)
      val scd2Cols = Seq("start_datetime", "end_datetime", "is_current")
      val payloadCols = target.columns.filterNot(scd2Cols.contains).toSeq.map(col)

      // semi and anti joins are set-semantic: the keys need no distinct
      val deltaKeys = broadcast(delta.select(col(pkCol)))
      val affectedHistory = target
        .join(deltaKeys, Seq(pkCol), "left_semi")
        .select(payloadCols: _*)
      val untouched = target.join(deltaKeys, Seq(pkCol), "left_anti")

      // One ordering serves both steps, so the plan shuffles once. Replay
      // idempotence keeps the first row of each (pk, ts), ties broken by
      // the payload columns in table order; null timestamps group together.
      val w = Window.partitionBy(col(pkCol)).orderBy((col(tsCol) +: payloadCols): _*)
      val rechained = affectedHistory
        .unionByName(delta.select(payloadCols: _*))
        .withColumn("__first",
          row_number().over(w) === 1 || !(lag(col(tsCol), 1).over(w) <=> col(tsCol)))
        .filter(col("__first")).drop("__first")
        .withColumn("start_datetime", col(tsCol))
        .withColumn("end_datetime",
          coalesce(lead(col(tsCol), 1).over(w), sentinel))
        .withColumn("is_current", col("end_datetime") === sentinel)

      store.commitFiles(table, untouchedFiles,
        Some(untouched.unionByName(rechained.select(target.columns.map(col).toSeq: _*))),
        "scd2_complex", base.partitionBy, Seq.empty, base.version)
    }

  /** Commit-conflict replans per merge, [[graft.core.MergeBuilder.withRetries]]'s
    * default: each SCD2 merge commits against the snapshot it planned on,
    * so a rival commit landing in between fails the commit, and the merge
    * is planned again on the rival's snapshot instead of dropping its
    * files. */
  private val Retries = 3

  /** A13 dedup: latest row per key (`ROW_NUMBER() ... rn = 1` —
    * updating_db_with_deltas_iceberg.ipynb cell 26). `tieBreak` columns make
    * the pick deterministic when `orderCol` ties. */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc +: tieBreak.map(col(_).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The employees-style 3-branch CDC merge (A13): dedup to latest per key,
    * then MATCHED+deleted → DELETE, MATCHED → UPDATE, NOT MATCHED and not
    * deleted → INSERT. */
  def applyCdcDeltas(store: TableStore, table: String, delta: DataFrame,
      keyCols: Seq[String], orderCol: String,
      deletedCol: String = "record_deleted"): Long = {
    val latest = latestPerKey(delta, keyCols, orderCol)
    Merge.into(store, table)
      .using(latest)
      .on(keyCols)
      .whenMatchedDelete(Some(Merge.source(deletedCol)))
      .whenMatchedUpdate()
      .whenNotMatchedInsert(Some(!Merge.source(deletedCol)))
      .run()
  }
}
