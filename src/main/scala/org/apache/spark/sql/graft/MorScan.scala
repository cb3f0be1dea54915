package org.apache.spark.sql.graft

import graft.core.TableStore
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** SQL reads over merge-on-read tables: the scan applies equality AND
  * positional deletes itself, Iceberg-style, instead of refusing.
  *
  * Equality deletes: every emitted row is checked against a broadcast
  * (key → max delete sequence) map — a row survives iff no delete with a
  * LARGER sequence than its file's covers its key (same-version new
  * images survive, Iceberg v2 semantics). A data file's sequence is the
  * commit version in its `v=N/` path prefix ([[TableStore.fileSeqOf]]).
  * Key columns are forced into the read schema (Spark projects them back
  * out), so column pruning still reaches the parquet scan.
  *
  * Positional deletes mask (relative file path, row index) pairs of
  * immutable files. Row indexes come from the parquet readers themselves:
  * the inner scan's read schema carries Spark's temporary row-index
  * column (`ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME`), which
  * both the vectorized and parquet-mr readers populate with the TRUE
  * within-file row index — computed from row-group offsets, so it
  * survives predicate pushdown, row-group/page skipping, AND byte-range
  * splits. The index column is appended LAST to the pruned schema and
  * stripped before rows/batches are emitted, so the scan's declared
  * output schema is unchanged.
  *
  * Scale shape: a MoR scan costs what a plain scan costs. It plans ONE
  * inner parquet scan over the snapshot's files and splits that scan's
  * file partitions so each holds files of a single sequence (equality)
  * or a single file (positional) — Spark's own split sizing and packing,
  * one reader factory, one Hadoop-conf broadcast. The delete side is
  * loaded once per delete-file set, not once per query: delete files are
  * create-once and uniquely named (`v=N/deletes-<uuid>/...`), so the
  * loaded lookup and delete vectors are memoized process-wide, keyed by
  * table root, delete entries (path, sequence) and key schema, and a
  * miss reads all of a snapshot's equality delete files in ONE job (each
  * row's sequence from its file path). Both lookup sides are churn-sized
  * and shipped once per executor via real broadcasts. Honest cap: beyond
  * `morMaxDeleteKeys` (default 4M) the scan refuses — memo hits
  * included — and points at `CALL compact`; the library read path
  * ([[TableStore.read]]) joins instead of broadcasting and has no cap.
  *
  * Vectorized reads survive: when the inner parquet scan supports
  * columnar batches, the delete filter is applied per BATCH — surviving
  * ordinals are computed once and the batch's vectors are wrapped in a
  * zero-copy row-id mapping ([[MappedVector]], the Iceberg
  * ColumnarBatchReader approach), so downstream whole-stage codegen still
  * consumes columnar input. A batch with no deleted rows passes through
  * untouched.
  */
object MorScan {

  /** Normalize an internal value into a hashable/equatable key component
    * (UTF8String instances from parquet buffers don't survive reuse). */
  private def norm(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case d: org.apache.spark.sql.types.Decimal => d.toBigDecimal
    case other => other
  }

  /** Job description of every delete-file load, so a listener (or the
    * Spark UI) can tell the delete side of a MoR read from its scan. */
  val DeleteLoadJob = "graft merge-on-read delete load"

  /** Delete keys the memo holds before it is cleared wholesale: lookup
    * entries, masked positions, and the delete entries of each memo key.
    * A single load above it is not kept. */
  private val MemoMaxKeys = 1000000L

  /** Loaded delete sides by (qualified table root, sorted delete entries
    * as (path, sequence), key schema) → (lookup or delete vectors, delete
    * rows they were loaded from). */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, Long)], StructType), (AnyRef, Long)]()
  private val memoKeys = new java.util.concurrent.atomic.AtomicLong()

  private val PosSchema = StructType(Seq(
    StructField("__file", StringType), StructField("__pos", LongType)))

  private def qualified(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString.stripSuffix("/")
  }

  private def describedAs[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
    sc.setJobDescription(DeleteLoadJob)
    try body finally sc.setLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION, prev)
  }

  private def requireUnderCap(total: Long, maxKeys: Long): Unit =
    require(total <= maxKeys,
      s"merge-on-read table carries $total delete keys (cap $maxKeys for " +
        "broadcast SQL reads); run CALL compact to materialize the deletes, " +
        "or read through the library API (TableStore.read) which joins " +
        "instead of broadcasting")

  /** The delete side loaded from `dels` (a lookup or delete vectors and
    * its entry count), served from the memo after the first load of this
    * exact delete-file set. The cap is checked on every call, before a
    * miss loads anything. */
  private def memoized[T <: AnyRef](spark: SparkSession, tableDir: String,
      dels: Seq[TableStore.DeleteEntry], schema: StructType,
      maxKeys: Long)(load: => (T, Long)): T = {
    val key = (qualified(spark, tableDir), dels.map(d => (d.path, d.seq)).sorted, schema)
    val hit = memo.get(key)
    if (hit != null) {
      requireUnderCap(hit._2, maxKeys)
      hit._1.asInstanceOf[T]
    } else {
      val declared = dels.map(_.rowCount).sum
      val rows =
        if (declared > 0 || dels.isEmpty) declared
        else describedAs(spark)(spark.read.parquet(
          dels.map(d => s"$tableDir/${d.path}"): _*).count())
      requireUnderCap(rows, maxKeys)
      val (loaded, size) = describedAs(spark)(load)
      val held = size + dels.size
      if (held <= MemoMaxKeys) {
        if (memoKeys.addAndGet(held) > MemoMaxKeys) {
          memo.clear()
          memoKeys.set(held)
        }
        memo.put(key, (loaded, rows))
      }
      loaded
    }
  }

  /** (key tuple → max delete sequence) from the snapshot's EQUALITY
    * delete files, capped at `maxKeys`. A miss reads every file in one
    * column-pruned, driver-collected job; each row's sequence is its
    * file's entry sequence, found by the row's `_metadata.file_path`. */
  def deleteLookup(spark: SparkSession, tableDir: String,
      eqDels: Seq[TableStore.DeleteEntry], keySchema: StructType,
      maxKeys: Long): Map[Seq[Any], Long] =
    memoized(spark, tableDir, eqDels, keySchema, maxKeys) {
      val df = spark.read.schema(keySchema)
        .parquet(eqDels.map(d => s"$tableDir/${d.path}"): _*)
      val fi = keySchema.length
      val rows = df.select(keySchema.fieldNames.toSeq.map(n =>
          col("`" + n.replace("`", "``") + "`")) :+
          col("_metadata.file_path"): _*)
        .queryExecution.executedPlan.executeCollect()
      val acc = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
      var lastPath: UTF8String = null
      var seq = 0L
      rows.foreach { r =>
        val p = r.getUTF8String(fi)
        if (!p.equals(lastPath)) {
          lastPath = p
          val s = p.toString
          seq = eqDels.find(d => s.endsWith("/" + d.path)).map(_.seq)
            .getOrElse(throw new IllegalStateException(
              s"delete row from $s, which is no delete file of the snapshot"))
        }
        val key = keySchema.fields.indices.map(i =>
          norm(r.get(i, keySchema.fields(i).dataType)))
        if (seq > acc.getOrElse(key, Long.MinValue)) acc(key) = seq
      }
      (acc.toMap, acc.size.toLong)
    }

  /** The positional mask from the snapshot's POSITIONAL delete files, as
    * per-data-file DELETE VECTORS — one roaring bitmap of row indexes per
    * masked file (Iceberg v3's representation): ~50× smaller than boxed
    * (path, pos) tuples in memory and on the broadcast wire, and
    * membership is an O(1) bitmap probe resolved ONCE per partition.
    * Positions are row indexes within one parquet file, so they fit int
    * (enforced); paths are immutable, no sequence logic. Memoized like
    * [[deleteLookup]]. */
  def posDeleteVectors(spark: SparkSession, tableDir: String,
      posDels: Seq[TableStore.DeleteEntry],
      maxKeys: Long): Map[String, RoaringBitmap] =
    memoized(spark, tableDir, posDels, PosSchema, maxKeys) {
      val acc = scala.collection.mutable.HashMap.empty[String, RoaringBitmap]
      spark.read.schema(PosSchema)
        .parquet(posDels.map(d => s"$tableDir/${d.path}"): _*)
        .queryExecution.executedPlan.executeCollect()
        .foreach { r =>
          val p = r.getLong(1)
          require(p >= 0 && p <= Int.MaxValue,
            s"positional delete row index out of int range: $p")
          acc.getOrElseUpdate(r.getUTF8String(0).toString,
            new RoaringBitmap()).add(p.toInt)
        }
      acc.foreach(_._2.runOptimize())
      (acc.toMap, acc.valuesIterator.map(_.getLongCardinality).sum)
    }

  def keep(row: InternalRow, fileSeq: Long, keyOrdinals: Array[Int],
      keyTypes: Array[DataType], lookup: Map[Seq[Any], Long]): Boolean = {
    if (keyOrdinals.isEmpty) return true
    val key = keyOrdinals.indices.map(i =>
      norm(row.get(keyOrdinals(i), keyTypes(i))))
    lookup.get(key).forall(_ <= fileSeq)
  }

  /** Build the right MoR scan for the snapshot's delete mix. `readSchema`
    * must already contain the equality key columns (callers force them
    * in); `scanOver` plans a pruned parquet scan over a file set with
    * the caller's pushdown state replayed; `scanOverRowIdx` plans the
    * same filtered scan with the parquet row-index temporary column
    * appended to the pruned schema — the readers fill it with the true
    * within-file row index, so positional masks apply under pushdown and
    * row-group skipping. Exactly one of the two is called, once, over
    * all of `files`. Manifest-level FILE pruning stays safe on both
    * paths — an entirely-skipped file emits no rows and its mask entries
    * are never consulted. */
  def buildScan(spark: SparkSession, root: String, name: String,
      m: TableStore.Manifest, readSchema: StructType,
      tableSchema: StructType, files: Seq[TableStore.FileEntry],
      scanOver: Seq[TableStore.FileEntry] => Scan,
      scanOverRowIdx: Seq[TableStore.FileEntry] => Scan,
      maxKeys: Long): Scan = {
    val (posDels, eqDels) = m.deleteFiles.partition(TableStore.isPositional)
    val keyCols = eqDels.headOption.map(_.keyCols).getOrElse(Seq.empty)
    // delete files store PHYSICAL key names (column mapping pins them);
    // ordinals below stay LOGICAL — positions match, names differ
    val cmap = m.columnMap.toMap
    val keySchema = StructType(keyCols.map(k =>
      tableSchema.fields(tableSchema.fieldIndex(k))
        .copy(name = cmap.getOrElse(k, k))))
    val lookup =
      if (eqDels.isEmpty) Map.empty[Seq[Any], Long]
      else deleteLookup(spark, root, eqDels, keySchema, maxKeys)
    val keyOrdinals = keyCols.map(readSchema.fieldIndex).toArray
    val keyTypes = keyOrdinals.map(i => readSchema.fields(i).dataType)
    // the inner scan's files are ManifestFileIndex paths: root-qualified
    // table-relative entry paths, mapped back to their entries here
    val qroot = new Path(qualified(spark, root))
    val entryOf = files.map(fe =>
      SparkPath.fromPath(new Path(qroot, fe.path)) -> fe).toMap
    if (posDels.isEmpty)
      new GraftMorScan(spark, name, readSchema, scanOver(files), entryOf,
        lookup, keyOrdinals, keyTypes, files)
    else
      new GraftPosMorScan(spark, name, readSchema, scanOverRowIdx(files),
        entryOf, lookup, posDeleteVectors(spark, root, posDels, maxKeys),
        keyOrdinals, keyTypes, files)
  }

  /** `inner`'s file partitions split so each holds the files of one
    * `keyOf` value (Spark packs small files of any kind together), in
    * planned order and re-indexed. */
  private[graft] def splitPartitions[K](inner: Batch,
      entryOf: Map[SparkPath, TableStore.FileEntry],
      keyOf: TableStore.FileEntry => K): Array[(K, FilePartition)] = {
    var idx = -1
    inner.planInputPartitions().flatMap { case fp: FilePartition =>
      val byKey = scala.collection.mutable.LinkedHashMap
        .empty[K, scala.collection.mutable.ArrayBuffer[PartitionedFile]]
      fp.files.foreach { pf =>
        val fe = entryOf.getOrElse(pf.filePath, throw new IllegalStateException(
          s"scan file ${pf.filePath} is no data file of the snapshot"))
        byKey.getOrElseUpdate(keyOf(fe),
          scala.collection.mutable.ArrayBuffer.empty) += pf
      }
      byKey.map { case (k, pfs) =>
        idx += 1
        (k, FilePartition(idx, pfs.toArray))
      }
    }
  }

  /** Surviving row ordinals of one columnar batch under the equality
    * lookup (and, when `relPath` is non-null, the positional mask with
    * each row's true file position read from `posVec` — the parquet
    * row-index column's vector). Returns null when EVERY row survives —
    * the caller passes the batch through untouched. */
  private[graft] def survivors(batch: ColumnarBatch, fileSeq: Long,
      keyOrdinals: Array[Int], keyTypes: Array[DataType],
      lookup: Map[Seq[Any], Long],
      posVec: ColumnVector, dv: RoaringBitmap): Array[Int] = {
    val n = batch.numRows()
    val out = new Array[Int](n)
    var kept = 0
    val it = batch.rowIterator()
    var i = 0
    while (it.hasNext) {
      val row = it.next()
      val ok = keep(row, fileSeq, keyOrdinals, keyTypes, lookup) &&
        (dv == null || !dv.contains(posVec.getLong(i).toInt))
      if (ok) { out(kept) = i; kept += 1 }
      i += 1
    }
    if (kept == n) null else java.util.Arrays.copyOf(out, kept)
  }

  /** Wrap a batch's vectors behind a surviving-ordinal mapping. */
  private[graft] def mapBatch(batch: ColumnarBatch,
      ids: Array[Int]): ColumnarBatch = {
    val cols = Array.tabulate(batch.numCols())(c =>
      new MappedVector(batch.column(c), ids): ColumnVector)
    new ColumnarBatch(cols, ids.length)
  }
}

/** Zero-copy row-id indirection over an inner ColumnVector: row r of this
  * vector is row map(r) of the inner one. The MoR columnar delete filter
  * wraps surviving ordinals in these instead of materializing rows, so
  * vectorized parquet batches flow through to downstream codegen with
  * deleted rows skipped. The inner vector stays owned by the inner
  * reader's batch — close() is a no-op here. */
private final class MappedVector(inner: ColumnVector, map: Array[Int])
    extends ColumnVector(inner.dataType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = {
    var i = 0
    while (i < map.length) { if (inner.isNullAt(map(i))) return true; i += 1 }
    false
  }
  override def numNulls: Int = {
    var n = 0
    var i = 0
    while (i < map.length) { if (inner.isNullAt(map(i))) n += 1; i += 1 }
    n
  }
  override def isNullAt(r: Int): Boolean = inner.isNullAt(map(r))
  override def getBoolean(r: Int): Boolean = inner.getBoolean(map(r))
  override def getByte(r: Int): Byte = inner.getByte(map(r))
  override def getShort(r: Int): Short = inner.getShort(map(r))
  override def getInt(r: Int): Int = inner.getInt(map(r))
  override def getLong(r: Int): Long = inner.getLong(map(r))
  override def getFloat(r: Int): Float = inner.getFloat(map(r))
  override def getDouble(r: Int): Double = inner.getDouble(map(r))
  override def getArray(r: Int): ColumnarArray = inner.getArray(map(r))
  override def getMap(r: Int): ColumnarMap = inner.getMap(map(r))
  override def getDecimal(r: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    inner.getDecimal(map(r), p, s)
  override def getUTF8String(r: Int): UTF8String = inner.getUTF8String(map(r))
  override def getBinary(r: Int): Array[Byte] = inner.getBinary(map(r))
  override def getChild(ordinal: Int): ColumnVector =
    new MappedVector(inner.getChild(ordinal), map)
}

/** The equality-delete MoR read scan: ONE inner parquet scan whose file
  * partitions are split by data-file sequence, rows (or columnar batches)
  * filtered through the broadcast delete lookup. */
final class GraftMorScan(spark: SparkSession, name: String,
    readSchemaWithKeys: StructType, inner: Scan,
    entryOf: Map[SparkPath, TableStore.FileEntry],
    lookup: Map[Seq[Any], Long], keyOrdinals: Array[Int],
    keyTypes: Array[DataType], files: Seq[TableStore.FileEntry])
    extends Scan with Batch with SupportsReportStatistics {

  private lazy val innerBatch = inner.toBatch

  override def readSchema(): StructType = readSchemaWithKeys
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMorScan $name [${files.map(fe => TableStore.fileSeqOf(fe.path))
      .distinct.size} seq groups, ${lookup.size} delete keys]"

  override def planInputPartitions(): Array[InputPartition] =
    MorScan.splitPartitions(innerBatch, entryOf,
        fe => TableStore.fileSeqOf(fe.path))
      .map { case (seq, fp) => MorInputPartition(seq, fp): InputPartition }

  override def createReaderFactory(): PartitionReaderFactory =
    new MorReaderFactory(innerBatch.createReaderFactory(),
      spark.sparkContext.broadcast(lookup), keyOrdinals, keyTypes)

  // upper bound (deleted rows included) — still far better than planner
  // defaults for broadcast decisions
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, files.map(_.sizeBytes).sum))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.rowCount).sum)
  }
}

/** The positional(-and-equality) MoR read scan: ONE inner filtered
  * parquet scan whose read schema carries the parquet row-index temporary
  * column (populated by the readers with true within-file positions),
  * its file partitions split to one data file each — full byte-range
  * split parallelism and pushdown, positions immune to row-group
  * skipping. The declared output schema excludes the index column;
  * readers strip it. */
final class GraftPosMorScan(spark: SparkSession, name: String,
    readSchemaWithKeys: StructType, inner: Scan,
    entryOf: Map[SparkPath, TableStore.FileEntry],
    lookup: Map[Seq[Any], Long], pos: Map[String, RoaringBitmap],
    keyOrdinals: Array[Int], keyTypes: Array[DataType],
    files: Seq[TableStore.FileEntry])
    extends Scan with Batch with SupportsReportStatistics {

  private lazy val innerBatch = inner.toBatch

  // Resolved by NAME against the inner scan's actual read schema — a
  // Spark change to pruned-schema ordering would surface here at plan
  // time instead of desynchronizing positions silently.
  private[graft] val rowIdxOrdinal: Int =
    inner.readSchema().fieldIndex(org.apache.spark.sql.execution.datasources
      .parquet.ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME)

  override def readSchema(): StructType = readSchemaWithKeys
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftPosMorScan $name [${files.size} files, " +
      s"${pos.valuesIterator.map(_.getLongCardinality).sum} positional " +
      s"(${pos.size} delete vectors) + ${lookup.size} equality delete keys]"

  override def planInputPartitions(): Array[InputPartition] =
    MorScan.splitPartitions(innerBatch, entryOf, identity)
      .map { case (fe, fp) =>
        PosMorInputPartition(TableStore.fileSeqOf(fe.path), fe.path, fp)
          : InputPartition
      }

  override def createReaderFactory(): PartitionReaderFactory =
    new PosMorReaderFactory(innerBatch.createReaderFactory(),
      spark.sparkContext.broadcast(lookup), spark.sparkContext.broadcast(pos),
      keyOrdinals, keyTypes, readSchemaWithKeys, rowIdxOrdinal)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, files.map(_.sizeBytes).sum))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.rowCount).sum)
  }
}

private case class MorInputPartition(seq: Long, inner: FilePartition)
    extends InputPartition

private case class PosMorInputPartition(seq: Long, relPath: String,
    inner: FilePartition) extends InputPartition

private class MorReaderFactory(inner: PartitionReaderFactory,
    lookup: Broadcast[Map[Seq[Any], Long]], keyOrdinals: Array[Int],
    keyTypes: Array[DataType]) extends PartitionReaderFactory {

  // vectorized reads survive the delete filter via the per-batch row-id
  // mapping — delegate the columnar decision to the parquet factory
  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition.asInstanceOf[MorInputPartition].inner)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val mp = partition.asInstanceOf[MorInputPartition]
    val r = inner.createReader(mp.inner)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          if (MorScan.keep(row, mp.seq, keyOrdinals, keyTypes, lookup.value)) {
            current = row
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val mp = partition.asInstanceOf[MorInputPartition]
    val r = inner.createColumnarReader(mp.inner)
    new PartitionReader[ColumnarBatch] {
      private var current: ColumnarBatch = _
      override def next(): Boolean = {
        while (r.next()) {
          val b = r.get()
          val ids = MorScan.survivors(b, mp.seq, keyOrdinals, keyTypes,
            lookup.value, null, null)
          if (ids == null) { current = b; return true }
          if (ids.nonEmpty) { current = MorScan.mapBatch(b, ids); return true }
        }
        false
      }
      override def get(): ColumnarBatch = current
      override def close(): Unit = r.close()
    }
  }
}

private class PosMorReaderFactory(inner: PartitionReaderFactory,
    lookup: Broadcast[Map[Seq[Any], Long]],
    pos: Broadcast[Map[String, RoaringBitmap]],
    keyOrdinals: Array[Int],
    keyTypes: Array[DataType], outSchema: StructType,
    rowIdxOrdinal: Int) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition.asInstanceOf[PosMorInputPartition].inner)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val mp = partition.asInstanceOf[PosMorInputPartition]
    val r = inner.createReader(mp.inner)
    val dv = pos.value.getOrElse(mp.relPath, null)
    new PartitionReader[InternalRow] {
      // strips the trailing row-index column: one reusable projecting
      // view over the declared output ordinals (no per-row allocation)
      private val out = new org.apache.spark.sql.catalyst.ProjectingInternalRow(
        outSchema, outSchema.indices.toIndexedSeq)
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          if (MorScan.keep(row, mp.seq, keyOrdinals, keyTypes, lookup.value) &&
              (dv == null || !dv.contains(row.getLong(rowIdxOrdinal).toInt))) {
            out.project(row)
            current = out
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val mp = partition.asInstanceOf[PosMorInputPartition]
    val r = inner.createColumnarReader(mp.inner)
    val dv = pos.value.getOrElse(mp.relPath, null)
    new PartitionReader[ColumnarBatch] {
      private var current: ColumnarBatch = _
      // the output batch drops the row-index vector (ordinals < outSchema
      // size are the declared columns — the index column is appended last)
      private def strip(b: ColumnarBatch, ids: Array[Int]): ColumnarBatch = {
        val cols = Array.tabulate(outSchema.length) { c =>
          if (ids == null) b.column(c)
          else new MappedVector(b.column(c), ids): ColumnVector
        }
        new ColumnarBatch(cols, if (ids == null) b.numRows() else ids.length)
      }
      override def next(): Boolean = {
        while (r.next()) {
          val b = r.get()
          val ids = MorScan.survivors(b, mp.seq, keyOrdinals, keyTypes,
            lookup.value, b.column(rowIdxOrdinal), dv)
          if (ids == null || ids.nonEmpty) {
            current = strip(b, ids)
            return true
          }
        }
        false
      }
      override def get(): ColumnarBatch = current
      override def close(): Unit = r.close()
    }
  }
}
