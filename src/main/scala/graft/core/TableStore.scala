package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Versioned Parquet table layer — the engine's Iceberg stand-in.
  *
  * Provides the reference's managed-table capabilities (SURVEY.md §2A)
  * natively on Spark: atomic commit (A4/A5), time travel
  * (A14 — reference/src/data_derivation/athena_iceberg/r/iceberg_test.Rmd:393-397),
  * `$history` metadata (A15 — iceberg_test.Rmd:383-386), and bin-pack
  * compaction (A16 — iceberg_test.Rmd:406 `OPTIMIZE ... BIN_PACK`).
  *
  * Layout (one directory per table under the warehouse root):
  * {{{
  *   <warehouse>/<table>/v=<N>/part-*.parquet   # immutable data of version N
  *   <warehouse>/<table>/_manifests/<N>.json    # commit metadata for N
  *   <warehouse>/<table>/_current               # pointer file: latest N
  * }}}
  *
  * Commit protocol (optimistic, many writers): a commit reads its BASE
  * snapshot once, writes its data files, and publishes the base's
  * successor — version base + 1, carrying everything it does not change
  * ([[TableStore.Manifest.next]]) — through one tail, [[publish]]: a
  * create-exclusive manifest write, then a swap of the `_current`
  * pointer. The manifest is the commit: two writers racing to the same
  * version both write, only one create lands, and the loser gets a
  * [[TableStore.CommitConflictException]] — a rival is never silently
  * dropped. `_current` is only a read cache of the newest manifest;
  * readers resolve it once and then touch only immutable paths, so reads
  * are never torn. Rewrite-shaped commits (merge, update, delete,
  * compaction, alters) surface the conflict, since what they keep was
  * decided against the old base; append-shaped commits (append, MoR
  * deltas, publish) retry against the new base. On a real cluster the
  * create-exclusive write would be a catalog compare-and-swap; all paths
  * go through the Hadoop FileSystem API so the same code runs on
  * HDFS/S3A.
  *
  * Scale notes: the manifest records per-file row counts and sizes so
  * planning (e.g. compaction sizing, future min/max file pruning) never
  * lists or reads data files on the driver; reads hand Spark the exact
  * file list of one version, keeping scans parallel and pruned.
  */
class TableStore(spark: SparkSession, val warehouse: String) {
  import TableStore._

  private val mapper = new ObjectMapper()
  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(t: String) = new Path(warehouse, t)
  private def versionDir(t: String, v: Long) = new Path(tableDir(t), s"v=$v")
  private def manifestDir(t: String) = new Path(tableDir(t), "_manifests")
  private def manifestPath(t: String, v: Long) = new Path(manifestDir(t), s"$v.json")
  private def currentPtr(t: String) = new Path(tableDir(t), "_current")

  /** The newest manifest version on disk (0 for none) — the authoritative
    * head: manifests are create-exclusive and never rewritten, and
    * rollback commits a NEW version, so the max is always current. */
  private def listedVersion(table: String): Long = {
    val dir = manifestDir(table)
    val f = fs(dir)
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.endsWith(".json") => n.stripSuffix(".json").toLong }
      .foldLeft(0L)(math.max)
  }

  /** The version the `_current` read cache holds, or None when it cannot
    * be read: momentary absence (atomicWrite deletes before rename on
    * filesystems without overwrite-rename), a torn read, or local
    * ChecksumFileSystem's `.crc` side-file racing the swap's rename (the
    * data file and its checksum rename separately, so a concurrent reader
    * can pair new bytes with the old checksum — observed as a flaky
    * ChecksumException under a streaming reader + concurrent commits). */
  private def pointerVersion(table: String): Option[Long] = {
    val p = currentPtr(table)
    val f = fs(p)
    if (!f.exists(p)) None
    else
      try {
        val in = f.open(p)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim.toLong)
        finally in.close()
      } catch {
        case _: java.io.IOException | _: NumberFormatException => None
      }
  }

  /** Latest committed version, or 0 if the table does not exist: the
    * `_current` cache, falling back to the manifest listing whenever the
    * cache cannot be read. */
  def currentVersion(table: String): Long =
    pointerVersion(table).getOrElse(listedVersion(table))

  /** The snapshot a commit builds on: the table's newest manifest — not
    * the `_current` cache, which lags mid-race (the winner writes its
    * manifest before swapping the pointer) — or the empty version 0 of a
    * table with none. `pinned` (when ≥ 0) is the version the caller
    * PLANNED against: a newer head means a rival landed since, so the
    * commit conflicts here, before writing anything, instead of carrying
    * a file list decided against an older snapshot onto the rival's. */
  private def head(table: String, pinned: Long = -1L): Manifest = {
    val m = manifests(table).lastOption.getOrElse(Manifest.emptyAt(0L))
    if (pinned >= 0L && m.version != pinned)
      throw new TableStore.CommitConflictException(
        s"$table: planned on version $pinned, but version ${m.version} is committed")
    m
  }

  /** The one commit tail: write `m`'s manifest create-exclusive (a rival
    * that already took `m.version` makes this throw
    * [[TableStore.CommitConflictException]]), then advance `_current`.
    * Returns the committed version. */
  private def publish(table: String, m: Manifest): Long = {
    writeManifest(table, m)
    swapPointer(table, m.version)
    m.version
  }

  /** `base`'s successor holding `kept` ∪ `added` — the carry rule of
    * every commit that replaces the file list. Constraints, write order,
    * column map, schema and partition spec carry as they are.
    *
    * Dropped-column tombstones carry while prior files do: otherwise
    * DROP COLUMN x → append → ADD COLUMN x would pass alterTable's
    * resurrection guard and read stale physical x values out of the
    * carried files. With no kept files every file postdates the drop.
    *
    * A merge-on-read delete file at sequence `s` masks rows only in data
    * files with a SMALLER sequence, so it carries while some kept file is
    * older than it — dropping it would resurrect deleted rows. Once every
    * kept file's sequence is ≥ `s` (a rewrite replaced every older file,
    * reading through the overlay), it is dead: full rewrites (compact,
    * unfiltered CoW) shed the whole overlay, partial rewrites shed
    * exactly the overlay they materialized. */
  private def successor(base: Manifest, operation: String, kept: Seq[FileEntry],
      added: Seq[FileEntry]): Manifest = {
    val minKeptSeq =
      if (kept.isEmpty || base.deleteFiles.isEmpty) Long.MaxValue
      else kept.map(fe => fileSeqOf(fe.path)).min
    base.next(operation).copy(files = kept ++ added,
      droppedColumns = if (kept.isEmpty) Seq.empty else base.droppedColumns,
      deleteFiles = base.deleteFiles.filter(_.seq > minKeptSeq))
  }

  private def schemaOf(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** `df` projected onto `schema` by name: each column cast to its stored
    * type, a column the batch lacks as null. */
  private def alignTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  def exists(table: String): Boolean = currentVersion(table) > 0

  def tables: Seq[String] = {
    val root = new Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** Commit `df` as the next version of `table` (full snapshot).
    * A4/A5: `createOrReplace` and append both land here — append is
    * expressed by the caller unioning with `read(table)` (see [[append]]).
    *
    * Per-file row counts and column min/max are harvested from the parquet
    * FOOTERS just written (no data re-read); they power `$history` counts
    * and [[readWhere]] file skipping — the Iceberg-metadata capability the
    * reference measured as its main scan win
    * (reference/docs/README.md:123-129). Footers are read where the commit
    * runs; on a cluster this is a tiny metadata task per file, mergeable
    * into the write job via a commit protocol later.
    *
    * `bloomColumns` turns on parquet bloom filters for those columns in
    * the written files — the pruning story for RANDOM keys (md5-style
    * surrogate pks), where min/max ranges overlap every file and
    * [[filesHitByKeys]] would otherwise rewrite the whole table on every
    * CDC merge. */
  def commit(table: String, df: DataFrame, operation: String,
      partitionBy: Seq[String] = Seq.empty,
      bloomColumns: Seq[String] = Seq.empty,
      baseVersion: Long = -1L): Long =
    commitFiles(table, Seq.empty, Some(df), operation, partitionBy,
      bloomColumns, baseVersion)

  /** Partitioned commit (A6): rows land in an Iceberg-style identity
    * partition layout `v=N/__p_<col>=<value>/part-*.parquet`. The partition
    * columns stay IN the data files (the `__p_` copies only name the
    * directories), each file's partition tuple is recorded in the manifest,
    * and the values are folded into the per-file stats as exact min=max —
    * so every pruning path (readWhere, MERGE planning, SQL row-level
    * operations) skips non-matching partitions without listing them.
    * Mirrors the reference's partitioned fact tables
    * (query_performance/utils/metadata/store_sales.json "partitions",
    * utils/create_partitioned_hive_tpcds.py:49-105). */
  def commitPartitioned(table: String, df: DataFrame, partitionBy: Seq[String],
      operation: String): Long =
    commitFiles(table, Seq.empty, Some(df), operation, partitionBy)

  /** Bucketed commit: rows land in `numBuckets` hash-bucket partitions of
    * `keyCol` (see [[TableStore.bucketOf]]). The derived bucket column is
    * materialized into the data (and its directory layout) like any
    * identity partition, so every existing pruning path works on it —
    * and [[filesHitByKeys]] recognizes the transform from the manifest
    * and maps raw KEYS to buckets, giving CDC merges on random keys
    * exact partition pruning. A merge source must carry the bucket
    * column for inserted rows (compute it with the same
    * `TableStore.bucketOf`). */
  def commitBucketed(table: String, df: DataFrame, keyCol: String,
      numBuckets: Int, operation: String): Long = {
    require(numBuckets > 0 && numBuckets <= (1 << 20),
      s"numBuckets out of range: $numBuckets")
    val bc = TableStore.bucketColumn(keyCol, numBuckets)
    // Cluster on the bucket before the partitioned write: every bucket
    // lands in exactly one task, so the layout is one file per bucket
    // (an unclustered write makes every input task write every bucket
    // dir — numBuckets × tasks small files whose footer harvest swamps
    // the commit). Size numBuckets so a bucket ≈ a healthy file.
    commitPartitioned(table,
      df.withColumn(bc, TableStore.bucketOf(col(keyCol), numBuckets))
        .repartition(numBuckets, col(bc)),
      Seq(bc), operation)
  }

  /** Copy-on-write commit: the new snapshot = `keptFiles` (entries carried
    * over from a previous manifest — file paths are version-qualified, so
    * nothing is copied) ∪ the freshly-written `newData`. This is what makes
    * file-level MERGE rewrite possible (SURVEY.md §4 "MERGE physical
    * strategy"): untouched files cost zero I/O in the commit.
    *
    * `baseVersion` (when ≥ 0) pins the snapshot this commit was PLANNED
    * against: kept-file decisions were made against it, so committing
    * them onto any later snapshot would drop a rival's files — a newer
    * head conflicts instead. Leave unset only for content-independent
    * commits. */
  def commitFiles(table: String, keptFiles: Seq[FileEntry],
      newData: Option[DataFrame], operation: String,
      partitionBy: Seq[String] = Seq.empty,
      bloomColumns: Seq[String] = Seq.empty,
      baseVersion: Long = -1L): Long = {
    val base = head(table, baseVersion)
    val newEntries = newData match {
      case Some(df) =>
        // Unique per-writer subdir: two writers racing to the same next
        // version must never share an output directory — Hadoop's
        // _temporary staging and overwrite-mode cleanup would corrupt the
        // rival's files mid-write. The loser's completed files become
        // orphans in the winner's version dir (removeOrphanFiles
        // collects); fileSeqOf still parses the leading `v=N/`.
        val rel = s"v=${base.version + 1}/w-${java.util.UUID.randomUUID().toString.take(8)}"
        writeDataFiles(new Path(tableDir(table), rel), rel,
          applyWriteOrder(base.writeOrder, checked(df, base.constraints), partitionBy),
          partitionBy, bloomColumns, base.columnMap.toMap)
      case None => Seq.empty
    }
    publish(table, successor(base, operation, keptFiles, newEntries).copy(
      schemaJson = newData.fold(base.schemaJson)(_.schema.json),
      partitionBy = if (partitionBy.nonEmpty) partitionBy else base.partitionBy))
  }

  /** Write `df`'s parquet files under `dataDir` and harvest their manifest
    * entries (paths prefixed `relPrefix/…`, table-relative). Extracted from
    * [[commitFiles]] so staged (write-audit-publish) snapshots share the
    * exact write + footer-stat path of published ones. */
  private def writeDataFiles(dataDir: Path, relPrefix: String, dfLogical: DataFrame,
      partitionBy: Seq[String], bloomColumns: Seq[String],
      colMap: Map[String, String] = Map.empty): Seq[FileEntry] = {
    // Column mapping: files are ALWAYS written under the pinned PHYSICAL
    // names, so every file of the table shares one name per field no
    // matter how often the logical name changed. Footer stats come back
    // physical and are re-keyed to the CURRENT logical names — manifests
    // (and the whole pruning stack above them) speak logical only.
    // Partition/transform-source columns are rename-protected, so
    // `partitionBy` needs no translation.
    val df =
      if (colMap.isEmpty) dfLogical
      else dfLogical.select(dfLogical.columns.toSeq.map(c =>
        col(c).as(colMap.getOrElse(c, c))): _*)
    // Write timestamps as TIMESTAMP_MICROS *for store files only*:
    // INT96 (Spark's session default) has no orderable footer stats.
    // Scoped set-and-restore so the session's own writes are untouched.
    graft.GraftSession.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      val bloomOpts = bloomColumns
        .map(c => s"parquet.bloom.filter.enabled#${colMap.getOrElse(c, c)}" ->
          "true").toMap
      if (partitionBy.isEmpty)
        df.write.mode("overwrite").options(bloomOpts).parquet(dataDir.toString)
      else {
        // duplicate the partition cols so the data files keep them; a
        // transform column absent from the batch is computed here from its
        // source column (HIDDEN partitioning — the `__p_` copy names only
        // the directory, so the derived value never pollutes file schemas)
        val withDirs = partitionBy.foldLeft(df)((d, c) =>
          d.withColumn(s"__p_$c",
            if (d.columns.contains(c)) col(c)
            else TableStore.transformExpr(c).getOrElse(col(c))))
        withDirs.write.mode("overwrite").options(bloomOpts)
          .partitionBy(partitionBy.map(c => s"__p_$c"): _*)
          .parquet(dataDir.toString)
      }
    }
    val kinds = statKinds(dfLogical.schema, partitionBy)
    val f = fs(dataDir)
    val qualified = f.makeQualified(dataDir).toString
    harvestInParallel(listPartFiles(dataDir, f)) { s =>
      val rel = f.makeQualified(s.getPath).toString.stripPrefix(qualified)
        .stripPrefix("/")
      fileEntry(s.getPath, s"$relPrefix/$rel", rel, s.getLen, kinds, colMap)
    }
  }

  /** The manifest entry of data file `p`, recorded as `path`: footer row
    * count and stats — re-keyed from the pinned physical names of
    * `colMap` to logical ones — plus the partition tuple parsed from its
    * `__p_<col>=<value>/` directories (`rel`, relative to the write's
    * root), folded in as exact min=max stats where `kinds` gives the
    * column a comparison domain, so every pruning path skips
    * non-matching partitions. */
  private def fileEntry(p: Path, path: String, rel: String, len: Long,
      kinds: Map[String, Option[String]], colMap: Map[String, String]): FileEntry = {
    val (rows, statsPhys) = footerStats(p)
    val statRev = colMap.map(_.swap)
    val stats =
      if (statRev.isEmpty) statsPhys
      else statsPhys.map { case (k, v) => statRev.getOrElse(k, k) -> v }
    val pvals = partitionValuesOf(rel)
    val pstats = pvals.flatMap {
      case (c, pv) if pv != "__HIVE_DEFAULT_PARTITION__" =>
        // identity partition dir: every row holds exactly this value,
        // so the column has zero nulls in this file by construction
        kinds.get(c).flatten.map(k => c -> ColStats(pv, pv, k, 0L))
      case _ => None
    }
    FileEntry(path, len, rows, stats ++ pstats, pvals)
  }

  /** Apply the table's declared write order to an outgoing batch
    * (Iceberg's `WRITE ORDERED BY`): unpartitioned writes range-cluster
    * AND sort on the order columns (each file covers a narrow disjoint
    * range, so min/max pruning works on every future scan and row-group
    * stats tighten); partitioned writes sort within the caller's
    * partition clustering so the directory layout is untouched. The cost
    * is one range shuffle per write - the standing version of the
    * one-shot `rewriteSorted`, paid at write time instead of by a
    * maintenance rewrite. Order columns missing from the batch schema
    * (pre-evolution writers) are ignored. */
  private def applyWriteOrder(writeOrder: Seq[String], df: DataFrame,
      partitionBy: Seq[String]): DataFrame = {
    val order = writeOrder.filter(df.columns.contains)
    if (order.isEmpty) df
    else if (partitionBy.nonEmpty)
      df.sortWithinPartitions((partitionBy ++ order).map(col): _*)
    else df.repartitionByRange(order.map(col): _*)
      .sortWithinPartitions(order.map(col): _*)
  }

  /** Declare (or clear, with Seq.empty) the table's write sort order -
    * metadata-only; every subsequent data-writing commit through any
    * path applies it. */
  def setWriteOrder(table: String, cols: Seq[String]): Long = {
    val m = manifests(table).maxBy(_.version)
    val schema = schemaOf(m.schemaJson)
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"write-order column $c not in table schema"))
    publish(table, m.next("alter").copy(writeOrder = cols))
  }

  def writeOrderOf(table: String): Seq[String] = head(table).writeOrder

  /** logical -> physical column translation for `table`'s current map
    * (identity entries are never stored). Like constraints, the map
    * survives every commit shape — files written before AND after a
    * rename share one physical name per field. */
  def columnMapOf(table: String): Map[String, String] =
    head(table).columnMap.toMap

  /** `df` validated row by row against CHECK `constraints` INSIDE the job
    * that consumes it (one pass, no pre-scan): the filter evaluates per
    * row and `raise_error` aborts the job on the first violation —
    * Delta's invariant-check semantics. A predicate that is NULL for a
    * row passes (SQL-standard CHECK). `violation` words the error. */
  private def checked(df: DataFrame, constraints: Seq[(String, String)],
      violation: (String, String) => String =
        (nm, pred) => s"CHECK constraint $nm violated: $pred"): DataFrame =
    constraints.foldLeft(df) { case (d, (nm, pred)) =>
      d.filter(functions.when(functions.expr(pred) <=> lit(false),
        functions.raise_error(lit(violation(nm, pred))).cast("boolean"))
        .otherwise(lit(true)))
    }

  /** Add a named CHECK constraint (Delta `ADD CONSTRAINT`): validates the
    * predicate against ALL existing rows first (one filter pass — a
    * violation aborts and the constraint is not added), then commits a
    * metadata-only snapshot carrying it. Every subsequent write through
    * any path (commit/append/merge/MoR upsert/SQL INSERT/streaming sink)
    * enforces it per row inside the write job. */
  def addCheckConstraint(table: String, name: String,
      predicateSql: String): Long = {
    val m = manifests(table).maxBy(_.version)
    require(!m.constraints.exists(_._1 == name),
      s"constraint $name already exists on $table")
    // validate existing data: the raise_error filter throws on violation
    checked(read(table), Seq(name -> predicateSql),
      (nm, pred) => s"existing rows violate CHECK $nm ($pred)").count()
    publish(table, m.next("alter").copy(constraints = m.constraints :+ (name -> predicateSql)))
  }

  /** Drop a CHECK constraint (metadata-only). */
  def dropCheckConstraint(table: String, name: String): Long = {
    val m = manifests(table).maxBy(_.version)
    require(m.constraints.exists(_._1 == name),
      s"no constraint $name on $table")
    publish(table, m.next("alter").copy(constraints = m.constraints.filterNot(_._1 == name)))
  }

  /** CHECK constraints carry through every commit like the partition
    * spec — dropping them on a rewrite would silently stop enforcement. */
  def checkConstraints(table: String): Seq[(String, String)] =
    head(table).constraints

  /** Expectation-routing append (DLT's `expect_or_drop`-with-quarantine):
    * rows violating any CHECK constraint land in `quarantineTable` —
    * tagged with the names of the constraints they broke — instead of
    * aborting the whole batch; conforming rows append normally. The
    * abort mode ([[append]] on a constrained table) stays the default;
    * this is the triage mode for pipelines where one bad row must not
    * stall the feed. Cost: the batch is scanned twice (batch-sized, not
    * table-sized). Returns (table version, quarantined row count). */
  def appendWithQuarantine(table: String, df: DataFrame,
      quarantineTable: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{expr, concat_ws}
    import org.apache.spark.sql.functions.{lit => flit, when => fwhen}
    val cs = checkConstraints(table)
    if (cs.isEmpty) return (append(table, df), 0L)
    val violated = cs.map { case (_, p) => expr(p) <=> flit(false) }
      .reduce(_ || _)
    val tags = concat_ws(",",
      cs.map { case (nm, p) =>
        fwhen(expr(p) <=> flit(false), flit(nm)) }: _*)
    val bad = df.filter(violated).withColumn("__violated", tags)
    val badBefore = manifests(quarantineTable).lastOption.map(_.rowCount)
      .getOrElse(0L)
    if (exists(quarantineTable)) append(quarantineTable, bad)
    else commit(quarantineTable, bad, "quarantine")
    val badCount = manifests(quarantineTable).maxBy(_.version).rowCount -
      badBefore
    val v = append(table, df.filter(!violated))
    (v, badCount)
  }

  /** Footer-stat harvesting is metadata-only but pays one storage
    * round-trip per file — run it on a bounded thread pool so a
    * many-file commit is latency-bound, not file-count-bound. Order is
    * preserved. (On a real cluster this moves into the write tasks via a
    * commit protocol; parallel driver harvesting is the single-node
    * equivalent.) */
  private def harvestInParallel[A, B](items: Seq[A])(fn: A => B): Seq[B] =
    if (items.size <= 2) items.map(fn)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = TableStore.harvestEc
      Await.result(Future.traverse(items)(a => Future(fn(a))), Duration.Inf)
    }

  /** All part- files under `dir`, recursively (partitioned layouts nest). */
  private def listPartFiles(dir: Path, f: FileSystem)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val it = f.listFiles(dir, true)
    val buf = ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.startsWith("part-")) buf += s
    }
    buf.toSeq.sortBy(_.getPath.toString)
  }

  /** Stat-comparison domain per partition column of `schema` and
    * `partitionBy`, for folding partition-directory values into min=max
    * stats. They fold only when the path rendering round-trips through
    * the comparison domain. Timestamps do NOT (path "2024-01-01 00:00:00"
    * vs literal ".0"-suffixed toString — utf8Cmp would prune every file
    * of the matching partition); decimals are ambiguous ("1.5" vs
    * "1.50"). Those kinds yield None: the partition value is still
    * recorded in `partitionValues`, just never used for stat pruning.
    * Transform partition values DO fold: temporal/truncate renderings are
    * fixed-width order-preserving strings the writer itself computed (the
    * path value IS the comparison-domain value), and a hidden-computed
    * bucket value is an exact long. */
  private def statKinds(schema: StructType, partitionBy: Seq[String])
      : Map[String, Option[String]] = {
    import org.apache.spark.sql.types._
    schema.fields.map(f => f.name -> (f.dataType match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => Some("long")
      case _: FloatType | _: DoubleType => Some("double")
      case _: StringType | _: DateType => Some("string")
      case _ => None
    })).toMap ++ partitionBy.filterNot(schema.fieldNames.contains).collect {
      case c @ (DaysRe(_) | MonthsRe(_) | HoursRe(_) | YearsRe(_) | TruncRe(_, _)) =>
        c -> Some("string")
      case c @ BucketRe(_, _) => c -> Some("long")
    }
  }

  /** Partition tuple encoded in a version-relative file path's
    * `__p_<col>=<value>/` directories (empty for unpartitioned layouts).
    * Public because the DSv2 write path parses staged paths with it when
    * resolving dynamic partition overwrites. */
  def partitionValuesOf(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).collect {
      case seg if seg.startsWith("__p_") && seg.contains('=') =>
        val Array(k, vv) = seg.split("=", 2)
        k.stripPrefix("__p_") ->
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(vv)
    }.toMap

  /** Create an empty table (schema only, no data files) — the CTAS/DSv2
    * `createTable` hook: SQL writes land as the next version. A non-empty
    * `partitionBy` declares an identity partition spec that subsequent
    * staged SQL writes lay out and prune by. */
  def createEmpty(table: String, schemaJson: String,
      partitionBy: Seq[String] = Seq.empty): Long =
    publish(table, Manifest.emptyAt(head(table).version).next("create")
      .copy(schemaJson = schemaJson, partitionBy = partitionBy))

  /** Partition evolution (Iceberg's headline spec flexibility): change the
    * table's partition spec METADATA-ONLY — no byte of data moves.
    * Existing files keep their own layout and still prune exactly: every
    * pruning path decides per FILE from its recorded partition values and
    * stats, and planning paths treat files lacking the current spec's
    * values conservatively (hit, never wrongly skipped). FUTURE writes —
    * appends, staged SQL writes, merge rewrites — lay out and cluster by
    * the new spec. A sorted/z-order rewrite (or any full rewrite through a
    * partitioned commit) materializes the evolution across the whole
    * table; dynamic partition overwrite refuses mixed layouts until then.
    * Columns are schema fields (identity) or [[TableStore.bucketColumn]]
    * names (`bucket(N, col)` transform); empty returns the table to
    * unpartitioned writes. */
  def setPartitionSpec(table: String, partitionBy: Seq[String]): Long = {
    val ms = manifests(table)
    require(ms.nonEmpty, s"table $table does not exist")
    val m = ms.maxBy(_.version)
    val schema = schemaOf(m.schemaJson)
    partitionBy.foreach {
      case TableStore.BucketRe(n, c) =>
        require(n.toInt > 0 && schema.fieldNames.contains(c),
          s"bucket transform on unknown column $c")
      case pc @ (TableStore.DaysRe(_) | TableStore.MonthsRe(_) |
                 TableStore.HoursRe(_) | TableStore.YearsRe(_)) =>
        val c = TableStore.transformSource(pc).get
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"temporal transform on unknown column $c"))
        require(f.dataType == org.apache.spark.sql.types.TimestampType ||
            f.dataType == org.apache.spark.sql.types.DateType,
          s"temporal transform needs a timestamp/date column, " +
            s"$c is ${f.dataType.simpleString}")
      case pc @ TableStore.TruncRe(w, c) =>
        require(w.toInt > 0, s"truncate width must be positive in $pc")
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"truncate transform on unknown column $c"))
        require(f.dataType == org.apache.spark.sql.types.StringType,
          s"truncate transform needs a string column, " +
            s"$c is ${f.dataType.simpleString}")
      case c => require(schema.fieldNames.contains(c),
        s"partition column $c is not in the table schema")
    }
    publish(table, m.next("set-partition-spec").copy(partitionBy = partitionBy))
  }

  /** Rollback (time travel made current): a NEW snapshot that duplicates
    * `toVersion`'s content — files, schema, partition spec, dropped-column
    * tombstones — so the table's current state returns to that version
    * while history stays intact (every intermediate snapshot remains
    * time-travelable; nothing is deleted). Metadata-only: no byte of data
    * moves. Restoring a pre-drop schema this way is safe — the restored
    * files' column values ARE that snapshot's real state, unlike re-ADDing
    * a dropped name onto post-drop files. Incremental reads refuse to span
    * a rollback (a rolled-back-away append's rows would otherwise be fed
    * to consumers as if still present). */
  def rollbackTo(table: String, toVersion: Long): Long = {
    val ms = manifests(table)
    val target = ms.find(_.version == toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"table $table has no version $toVersion"))
    // the target's content, re-based onto the head as its successor
    publish(table, target.copy(version = ms.last.version).next("rollback"))
  }

  /** Safe type promotions for schema evolution (Iceberg's rules): a
    * column's type may only WIDEN — narrowing or domain changes would
    * corrupt reads of existing files resolved by name. */
  private def safePromotion(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision >= a.precision
      case _ => false
    }
  }

  /** Schema evolution (ALTER TABLE): a metadata-only commit that carries
    * every data file forward and swaps the snapshot schema. Reads resolve
    * columns by name against the stored schema, so added columns surface
    * as null in old files and dropped/renamed columns disappear without
    * touching a byte of data — Iceberg's schema-evolution semantics. */
  def evolveSchema(table: String, schemaJson: String,
      newlyDropped: Seq[String] = Seq.empty): Long = {
    val m = manifests(table).maxBy(_.version)
    // every surviving column must keep its type or widen it safely;
    // additions and removals are free (name-resolved reads null/skip)
    val oldSchema = schemaOf(m.schemaJson)
    schemaOf(schemaJson).fields.foreach { f =>
      oldSchema.fields.find(_.name == f.name).foreach { o =>
        require(safePromotion(o.dataType, f.dataType),
          s"unsafe type change for $table.${f.name}: " +
            s"${o.dataType.simpleString} -> ${f.dataType.simpleString} " +
            "(only widening promotions are allowed)")
      }
    }
    publish(table, m.next("alter").copy(schemaJson = schemaJson,
      droppedColumns = (m.droppedColumns ++ newlyDropped).distinct))
  }

  /** ALTER TABLE … ALTER COLUMN TYPE without rewriting a byte of data —
    * Iceberg's type-promotion rules (int→long, float→double,
    * decimal(P,S)→decimal(P',S) with P'≥P, plus the byte/short integral
    * ladder). Old files keep their narrower physical type; Spark 4's
    * parquet readers widen at scan time (vectorized — the same promotion
    * matrix Delta's type widening rides on), and files written after the
    * change carry the wide type natively.
    *
    * The promotion set is chosen so FILE-SKIPPING STATS stay sound with
    * zero re-keying: ColStats compare in a kind domain ("long", "double",
    * "dec<scale>") and every allowed promotion stays inside its kind —
    * int and long stats are both kind "long", float and double both
    * "double", and a precision-only decimal change keeps "dec<scale>".
    * A cross-kind promotion (int→double, long→decimal) would let a
    * narrow-typed stat mis-compare against a wide literal, so
    * [[safePromotion]] simply never admits one.
    *
    * V1 restrictions (rejected loudly): partition / transform-source
    * columns (identity partition values and temporal/truncate transform
    * values are rendered from the column's type — and a float→double
    * bucket source would re-hash the same logical value into a different
    * bucket), and any widening while merge-on-read delete files are live
    * (delete files pin their key TYPE as written; `CALL compact` first —
    * the renameColumn rule). */
  def widenColumnType(table: String, column: String,
      newType: org.apache.spark.sql.types.DataType): Long = {
    val m = manifests(table).maxBy(_.version)
    val schema = schemaOf(m.schemaJson)
    val field = schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumnType: no column $column in $table"))
    require(safePromotion(field.dataType, newType),
      s"widenColumnType: ${field.dataType.simpleString} -> " +
        s"${newType.simpleString} is not a safe widening promotion " +
        "(allowed: byte/short/int->long, float->double, " +
        "decimal precision increase at the same scale)")
    require(m.deleteFiles.isEmpty,
      s"widenColumnType: $table carries merge-on-read delete files; " +
        "compact it first")
    require(!partitionSources(m).contains(column),
      s"widenColumnType: $column is a partition/transform source column")
    val newSchema = StructType(schema.fields.map(
      f => if (f.name == column) f.copy(dataType = newType) else f))
    publish(table, m.next(s"widen_column $column " +
        s"${field.dataType.simpleString}->${newType.simpleString}")
      .copy(schemaJson = newSchema.json))
  }

  /** The schema columns `m`'s partition spec reads: identity columns and
    * transform sources. */
  private def partitionSources(m: Manifest): Seq[String] =
    m.partitionBy.map(pc => TableStore.transformSource(pc).getOrElse(pc))

  /** ALTER TABLE … RENAME COLUMN without rewriting a byte of data —
    * Delta's column mapping (mode=name) / Iceberg's field-id rename,
    * realized by PINNING each field's PHYSICAL parquet name at first
    * write: a rename only updates the logical schema plus the
    * logical→physical `columnMap` entry, and files written before AND
    * after carry the same physical name forever. In-memory manifests
    * (stats keys, pruning, metadata aggregates) speak logical names
    * exclusively — the carried per-file stats are re-keyed here, once,
    * metadata-only.
    *
    * Rename-protected columns (rejected, documented v1 restrictions):
    * partition / transform-source / bucket columns (their names are baked
    * into directory layouts and partition tuples), columns referenced by
    * CHECK constraints or a write order (predicates store raw SQL text),
    * and any rename while merge-on-read delete files are live (delete
    * files pin key names; `CALL compact` first — the cloneTable rule). A
    * new name may not collide with a live column, a previously dropped
    * physical name, or an existing physical pin. */
  def renameColumn(table: String, oldName: String, newName: String): Long = {
    val m = manifests(table).maxBy(_.version)
    val schema = schemaOf(m.schemaJson)
    require(schema.fieldNames.contains(oldName),
      s"renameColumn: no column $oldName in $table")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"renameColumn: $table already has a column $newName")
    require(m.deleteFiles.isEmpty,
      s"renameColumn: $table carries merge-on-read delete files; " +
        "compact it first")
    require(!partitionSources(m).contains(oldName),
      s"renameColumn: $oldName is a partition/transform source column")
    val word = s"\\b${java.util.regex.Pattern.quote(oldName)}\\b".r
    require(!m.constraints.exists(c => word.findFirstIn(c._2).isDefined),
      s"renameColumn: $oldName is referenced by a CHECK constraint")
    require(!m.writeOrder.contains(oldName),
      s"renameColumn: $oldName is part of the table's write order")
    require(!m.droppedColumns.exists(_.equalsIgnoreCase(newName)),
      s"renameColumn: $newName was previously dropped; reusing the name " +
        "would shadow tombstoned physical data")
    val cmap = m.columnMap.toMap
    val phys = cmap.getOrElse(oldName, oldName)
    val newSchema = StructType(schema.fields.map(
      f => if (f.name == oldName) f.copy(name = newName) else f))
    val newMap = ((cmap - oldName) +
      (newName -> phys)).filter { case (l, ph) => l != ph }.toSeq.sortBy(_._1)
    val rekeyed = m.files.map(fe =>
      if (fe.stats.contains(oldName))
        fe.copy(stats = fe.stats.map { case (k, vv) =>
          (if (k == oldName) newName else k) -> vv })
      else fe)
    publish(table, m.next(s"rename_column $oldName->$newName")
      .copy(files = rekeyed, schemaJson = newSchema.json, columnMap = newMap))
  }

  /** Commit parquet files already written by an external writer (the DSv2
    * SQL write path): move them into the next version directory (same-FS
    * rename, no data copy), harvest footer stats, and commit
    * `keptFiles` ∪ them as one snapshot. Staged paths are
    * (absolute, version-relative) pairs — a partitioned writer stages
    * files under `__p_<col>=<value>/` subdirectories, whose partition
    * tuples are parsed and folded into the per-file stats exactly like
    * [[commitFiles]]'s partitioned layout, so SQL-written partitions prune
    * identically to library-written ones. `baseVersion` pins the commit
    * like [[commitFiles]]' — checked before any staged file moves, so a
    * conflicting commit leaves its files under staging for the write's
    * abort to remove. */
  def commitStaged(table: String, keptFiles: Seq[FileEntry],
      staged: Seq[(Path, String)], operation: String, schemaJson: String,
      streamEpoch: Option[(String, Long)] = None, baseVersion: Long = -1L): Long = {
    // Exactly-once for streaming sinks: a replayed epoch (driver restart
    // re-running a batch whose commit already landed) is a no-op. Checked
    // here, not in the sink, so every retry path hits the ledger.
    streamEpoch.foreach { case (qid, e) =>
      if (lastStreamEpoch(table, qid).exists(_ >= e)) return currentVersion(table)
    }
    val base = head(table, baseVersion)
    val schema = scala.util.Try(schemaOf(schemaJson)).getOrElse(new StructType())
    val cmap = base.columnMap.toMap
    // staged files were written by the caller's job (DSv2 INSERT /
    // streaming sink), so per-row enforcement couldn't ride the write —
    // validate them with one bounded read of the STAGING paths, BEFORE
    // the rename loop, so a violation aborts with the files still under
    // staging and the v=N directory (which the next commit reuses) stays
    // empty of orphans.
    if (base.constraints.nonEmpty && staged.nonEmpty)
      checked(toLogical(spark.read.schema(physSchemaOf(schema, cmap))
        .parquet(staged.map(_._1.toString): _*), schema, cmap), base.constraints).count()
    val added = moveStaged(table, base.version + 1, staged,
      statKinds(schema, base.partitionBy), cmap)
    publish(table, successor(base, operation, keptFiles, added)
      .copy(schemaJson = schemaJson, streamEpoch = streamEpoch))
  }

  /** Move `staged` (absolute, version-relative) files into version `v`'s
    * directory — a same-FS rename, no data copy — and harvest their
    * entries. */
  private def moveStaged(table: String, v: Long, staged: Seq[(Path, String)],
      kinds: Map[String, Option[String]], colMap: Map[String, String]): Seq[FileEntry] = {
    val dataDir = versionDir(table, v)
    val f = fs(dataDir)
    f.mkdirs(dataDir)
    harvestInParallel(staged) { case (p, rel) =>
      val dest = new Path(dataDir, rel)
      f.mkdirs(dest.getParent)
      require(f.rename(p, dest), s"failed to move staged file $p")
      fileEntry(dest, s"v=$v/$rel", rel, f.getFileStatus(dest).getLen, kinds, colMap)
    }
  }

  /** Commit externally-staged parquet files as a FRESH snapshot — the
    * atomic `CREATE / REPLACE TABLE [AS SELECT]` commit behind
    * [[graft.catalog.GraftCatalog]]'s StagingTableCatalog face (Iceberg's
    * atomic RTAS; reference CTAS surface at athena_functions.py:60-97):
    * the staged files become the table's ENTIRE content, schema and
    * partition spec are the new DDL's, and none of the prior snapshot's
    * identity (column mapping, tombstones, delete files, constraints,
    * write order) carries over — but prior versions stay in the manifest
    * log, so time travel still reads across the replace boundary and a
    * failed write leaves the old snapshot untouched (the pointer swap at
    * the end IS the commit). */
  def commitStagedFresh(table: String, staged: Seq[(Path, String)],
      operation: String, schemaJson: String,
      partitionBy: Seq[String] = Seq.empty,
      constraints: Seq[(String, String)] = Seq.empty,
      writeOrder: Seq[String] = Seq.empty): Long = {
    val v = head(table).version
    // inline DDL constraints commit ATOMICALLY with the data: the staged
    // rows are validated BEFORE the rename loop (one bounded read of the
    // STAGING paths), so no snapshot ever pairs the constraint with
    // violating rows — and a violating CTAS/RTAS aborts while its files
    // are still under staging, leaving nothing inside the v=N directory
    // that the next commit will reuse
    if (constraints.nonEmpty && staged.nonEmpty)
      checked(spark.read.parquet(staged.map(_._1.toString): _*), constraints,
        (nm, pred) => s"CTAS rows violate CHECK $nm ($pred)").count()
    val schema = scala.util.Try(schemaOf(schemaJson)).getOrElse(new StructType())
    val files = moveStaged(table, v + 1, staged, statKinds(schema, partitionBy), Map.empty)
    publish(table, Manifest.emptyAt(v).next(operation).copy(files = files,
      schemaJson = schemaJson, partitionBy = partitionBy, constraints = constraints,
      writeOrder = writeOrder))
  }

  /** The identity-allocation basis for `col`: the extreme committed value
    * in the `step` direction (max for ascending, min for descending),
    * read from per-file footer stats — METADATA ONLY at any table size —
    * or `start - step` on an empty table, so the first allocation is
    * exactly `start`. Stats are file-level (merge-on-read deletes do not
    * lower them), so the watermark never regresses under row deletion;
    * only a file with committed rows but no recorded stats for `col`
    * (e.g. all-NULL explicit inserts into a BY DEFAULT column) forces a
    * bounded data read of the column. */
  def identityBasis(table: String, col: String, start: Long,
      step: Long): Long = {
    val m = manifests(table).maxBy(_.version)
    val empty = start - step
    if (m.files.isEmpty) return empty
    val asc = step >= 0
    def pick(vals: Seq[Long]): Option[Long] =
      if (vals.isEmpty) None else Some(if (asc) vals.max else vals.min)
    val statVals = m.files.flatMap(_.stats.get(col)).flatMap { cs =>
      scala.util.Try(if (asc) cs.max.toLong else cs.min.toLong).toOption
    }
    val needScan = m.files.exists(f =>
      f.rowCount != 0L && !f.stats.contains(col))
    val scanned: Option[Long] =
      if (!needScan) None
      else {
        import org.apache.spark.sql.functions.{col => c, max => mx, min => mn}
        val r = read(table).agg(
          (if (asc) mx(c(col)) else mn(c(col))).cast("long")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    pick(statVals ++ scanned) match {
      case Some(v) => if (asc) math.max(v, empty) else math.min(v, empty)
      case None => empty
    }
  }

  /** Highest streaming-sink epoch already committed by `queryId` — the
    * exactly-once check a restarted stream's replayed epoch consults.
    * Scans live manifests only: expiring every snapshot of an epoch while
    * its stream is stopped AND will later replay that exact epoch would
    * defeat the check (bounded by the checkpoint's retained window in
    * practice; epochs commit in order, so the max is the frontier). */
  def lastStreamEpoch(table: String, queryId: String): Option[Long] = {
    val es = manifests(table).flatMap(_.streamEpoch)
      .collect { case (q, e) if q == queryId => e }
    if (es.isEmpty) None else Some(es.max)
  }

  /** Row count + per-column min/max from a parquet footer (metadata only).
    * Stats kept for primitive orderable types; strings via UTF-8 bytes. */
  private def footerStats(p: Path): (Long, Map[String, ColStats]) = {
    val in = HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val acc = scala.collection.mutable.Map[String, (Any, Any, String)]()
      // exact per-column null counts: every row group must report one, or
      // the whole file's count degrades to unknown (-1); accumulated for
      // ALL single-path columns, including blocks with no non-null value
      // (their min/max is absent but their nulls still count)
      val nullAcc = scala.collection.mutable.Map[String, Long]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val st = c.getStatistics
        if (c.getPath.size() == 1) {
          val name = c.getPath.toDotString
          val prev = nullAcc.getOrElse(name, 0L)
          nullAcc(name) =
            if (prev < 0L || st == null || !st.isNumNullsSet) -1L
            else prev + st.getNumNulls
        }
        val ptype = c.getPrimitiveType
        // INT32/INT64 stats for a DECIMAL-annotated column hold UNSCALED
        // values; tagging them "long" would make pruning compare unscaled
        // vs scaled (price 0.50 stored as 50 vs literal 5 → lost rows in
        // SELECT and silently-skipped rows in SQL UPDATE/DELETE/MERGE).
        // Record the scale in the kind ("dec<scale>") so every comparison
        // path rehydrates the true decimal value.
        val decScale: Option[Int] = ptype.getLogicalTypeAnnotation match {
          case d: org.apache.parquet.schema.LogicalTypeAnnotation
              .DecimalLogicalTypeAnnotation => Some(d.getScale)
          case _ => None
        }
        // Only primitive types with a total order we can prune on: INT96
        // (12-byte legacy timestamps) and fixed/decimal binaries are skipped;
        // BINARY is kept only when annotated as a UTF-8 string.
        val prunable = ptype.getPrimitiveTypeName match {
          case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96 => false
          case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY => false
          case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY =>
            ptype.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          case _ => true
        }
        if (prunable && st != null && st.hasNonNullValue && c.getPath.size() == 1) {
          val name = c.getPath.toDotString
          val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
            case (a: Binary, b2: Binary) => (a.toStringUsingUTF8, b2.toStringUsingUTF8)
            case (a, b2) => (a, b2)
          }
          (mn, mx) match {
            case (cmn: Comparable[_], _) =>
              val kind = decScale.map(s => s"dec$s").getOrElse(kindOf(mn))
              val prev = acc.get(name)
              val newMin = prev.map(_._1).map(p0 =>
                if (cmp(mn, p0) < 0) mn else p0).getOrElse(mn)
              val newMax = prev.map(_._2).map(p0 =>
                if (cmp(mx, p0) > 0) mx else p0).getOrElse(mx)
              acc(name) = (newMin, newMax, kind)
            case _ =>
          }
        }
      }
      (rows, acc.map { case (k, (mn, mx, kind)) =>
        k -> ColStats(mn.toString, mx.toString, kind,
          nullAcc.getOrElse(k, -1L))
      }.toMap)
    } finally reader.close()
  }

  private def utf8Cmp(a: String, b: String): Int = TableStore.utf8Cmp(a, b)

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (s1: String, s2: String) => utf8Cmp(s1, s2)
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  private def kindOf(v: Any): String = v match {
    case _: java.lang.Long | _: java.lang.Integer => "long"
    case _: java.lang.Double | _: java.lang.Float => "double"
    case _ => "string"
  }

  /** The [[readWhere]]/[[prunedFileCount]] keep-set: direct stat overlap
    * on `column`, AND-ed with any hidden-partition bounds a transform of
    * `column` implies (a [lower, upper] ts range prunes through
    * `__days_<column>` — see [[TransformPruning]]). */
  private def filesInRange(m: Manifest, column: String, lower: Any,
      upper: Any): Seq[FileEntry] = {
    val base = m.files.filter(fe =>
      fe.stats.get(column).forall(overlaps(_, lower, upper)))
    val derived = TransformPruning.derive(
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual(column, lower),
        org.apache.spark.sql.sources.LessThanOrEqual(column, upper)),
      m.partitionBy, spark.sessionState.conf.sessionLocalTimeZone)
    if (derived.isEmpty) base
    else base.filter(fe =>
      derived.forall(f => StatsFilter.fileMayMatch(fe.stats, f)))
  }

  /** Read the latest snapshot scanning ONLY files whose [min,max] range for
    * `column` intersects [lower, upper] (file skipping, Iceberg-style);
    * the residual filter is still applied, so results are exact. Files
    * without stats for the column are conservatively kept. */
  def readWhere(table: String, column: String, lower: Any, upper: Any): DataFrame = {
    val v = currentVersion(table)
    val m = manifests(table).find(_.version == v).get
    readManifest(table, m.copy(files = filesInRange(m, column, lower, upper)))
      .filter(col(column) >= lit(lower) && col(column) <= lit(upper))
  }

  private def lit(v: Any): Column = org.apache.spark.sql.functions.lit(v)

  /** How many files [[readWhere]] would scan — exposed for tests/metrics. */
  def prunedFileCount(table: String, column: String, lower: Any, upper: Any): (Int, Int) = {
    val m = manifests(table).maxBy(_.version)
    (filesInRange(m, column, lower, upper).size, m.files.size)
  }

  /** Read an explicit subset of the current snapshot's files. */
  def readFiles(table: String, files: Seq[FileEntry]): DataFrame =
    readManifest(table, manifests(table).maxBy(_.version).copy(files = files))

  /** Metadata-only max of a long column across the current snapshot
    * (footer stats folded at commit time — no data scan). `Some(0)` on
    * an empty table; `None` when any file lacks a long stat for the
    * column, so callers fall back to a real scan instead of trusting a
    * partial bound. Powers row-id allocation for lineage-carrying
    * merges the way Iceberg's snapshot `next-row-id` does. */
  def statMaxLong(table: String, column: String): Option[Long] = {
    val m = manifests(table).maxBy(_.version)
    if (m.files.isEmpty) Some(0L)
    else {
      val stats = m.files.map(_.stats.get(column))
      if (stats.exists(s => s.isEmpty || s.get.kind != "long")) None
      else Some(stats.flatten.map(_.max.toLong).max)
    }
  }

  /** Split the current snapshot's files into (hit, untouched) for a key
    * set — the planning primitive of file-level copy-on-write MERGE. The
    * distinct non-null keys are collected once, capped one past
    * [[bloomMaxKeys]]. Under the cap, each file's [min,max] range is tested
    * against the sorted keys on the driver, so a wide but sparse key set
    * (e.g. one update + one far-away insert) does not smear into "every
    * file is hit" the way whole-range bounds would, and the same keys
    * then probe the surviving files' bloom filters. Over the cap, the keys
    * are range-joined against a broadcast table of the file ranges and no
    * bloom is read. Files without stats for the column are
    * conservatively hit. */
  def filesHitByKeys(table: String, column: String, keys: DataFrame)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    import org.apache.spark.sql.functions.{broadcast, unix_micros, datediff, to_date}
    val m = manifests(table).maxBy(_.version)
    // Bucket-transform partitions: map the raw keys to their buckets and
    // hit only matching bucket partitions. The distinct-bucket set is
    // ≤ numBuckets values — bounded metadata, safe to collect. Files
    // without the bucket partition value (written by a later spec-less
    // rewrite) are conservatively hit, so the layout degrades gracefully
    // instead of losing merge rows.
    m.partitionBy.collectFirst {
      case TableStore.BucketRe(n, c) if c == column => n.toInt
    } match {
      case Some(n) =>
        val bc = TableStore.bucketColumn(column, n)
        val wanted = keys
          .select(TableStore.bucketOf(col(keys.columns.head), n)
            .cast("string").as("__b"))
          .distinct().collect().flatMap(r => Option(r.getString(0))).toSet
        // A file in the null-bucket dir (a writer that didn't compute the
        // bucket column) holds rows of UNKNOWN buckets — conservatively
        // hit, like files without stats, never skipped.
        return m.files.partition(fe =>
          fe.partitionValues.get(bc).forall(v =>
            v == "__HIVE_DEFAULT_PARTITION__" || wanted.contains(v)))
      case None => ()
    }
    val (statFiles, noStat) = m.files.partition(_.stats.contains(column))
    if (statFiles.isEmpty) return (m.files, Seq.empty)
    val keyRaw = col(keys.columns.head)
    val keyType = keys.schema.fields.head.dataType
    import org.apache.spark.sql.types.{TimestampType, DateType}
    // Stat kinds can legitimately diverge across files of one column —
    // e.g. a date column carries partition-derived "string" stats in
    // partitioned commits and footer "long" (epoch-day) stats in a later
    // unpartitioned append. Applying one file's kind to another file's
    // raw stats would compare in the wrong domain and could WRONGLY prune
    // (silently losing MERGE rows), so each kind group is ranged in its
    // own domain; a group whose kind has no sound cast from the key type
    // is conservatively hit.
    val groups = statFiles.groupBy(_.stats(column).kind).toSeq
    def castType(kind: String): String = kind match {
      case "long" => "long"
      case "double" => "double"
      case d if d.startsWith("dec") => s"decimal(38,${d.stripPrefix("dec")})"
      case _ => "string"
    }
    def domainKey(kind: String): Column = (kind, keyType) match {
      case ("long", TimestampType) => unix_micros(keyRaw)
      case ("long", DateType) => datediff(keyRaw, to_date(lit("1970-01-01")))
        .cast("long")
      case ("long", _) => keyRaw.cast("long")
      case ("double", _) => keyRaw.cast("double")
      case (d, _) if d.startsWith("dec") => keyRaw.cast(castType(d))
      case _ => keyRaw.cast("string")
    }
    def hitsByRangeJoin(kind: String, group: Seq[FileEntry])
        : (Seq[FileEntry], Seq[FileEntry]) = {
      // dec<scale> stats hold the unscaled integer — rehydrate to a plain
      // decimal rendering before the cast so ranges compare in value space
      val statStr: String => String =
        if (kind.startsWith("dec")) { raw =>
          new java.math.BigDecimal(new java.math.BigInteger(raw),
            kind.stripPrefix("dec").toInt).toPlainString
        } else identity
      val ranges = group.zipWithIndex.map { case (fe, i) =>
        (i, statStr(fe.stats(column).min), statStr(fe.stats(column).max))
      }
      val rangesDf = {
        import spark.implicits._
        ranges.toDF("__idx", "__mn", "__mx")
          .select(col("__idx"), col("__mn").cast(castType(kind)).as("__mn"),
            col("__mx").cast(castType(kind)).as("__mx"))
      }
      // A stat that does not cast into the comparison domain (null bound)
      // can never match the range predicate — that file must be
      // conservatively hit, not silently pruned.
      val nullIdx = rangesDf
        .filter(col("__mn").isNull || col("__mx").isNull)
        .select(col("__idx")).collect().map(_.getInt(0)).toSet
      val hitIdx = keys.select(domainKey(kind).as("__k")).distinct()
        .join(broadcast(rangesDf),
          col("__k") >= col("__mn") && col("__k") <= col("__mx"))
        .select(col("__idx")).distinct().collect().map(_.getInt(0)).toSet
      val (h, u) = group.zipWithIndex.partition(p =>
        hitIdx(p._2) || nullIdx(p._2))
      (h.map(_._1), u.map(_._1))
    }
    // Bloom hashing follows the column's PHYSICAL type, so normalize by
    // the key's own type (timestamps → epoch micros, dates → epoch days)
    // rather than any one file's stat kind.
    val bloomKey = keyType match {
      case TimestampType => unix_micros(keyRaw)
      case DateType => datediff(keyRaw, to_date(lit("1970-01-01"))).cast("long")
      case _ => keyRaw
    }
    // The one pass over the keys: each distinct non-null key in the bloom
    // domain and in every stat kind's domain, cast exactly as the range
    // join casts it.
    val sample = keys.filter(keyRaw.isNotNull)
      .select((bloomKey.as("__b") +: groups.zipWithIndex.map { case ((kind, _), i) =>
        domainKey(kind).as(s"__k$i") }): _*)
      .distinct().limit(bloomMaxKeys + 1).collect()
    if (sample.length > bloomMaxKeys) {
      val split = groups.map { case (kind, group) => hitsByRangeJoin(kind, group) }
      return (split.flatMap(_._1) ++ noStat, split.flatMap(_._2))
    }
    val split = groups.zipWithIndex.map { case ((_, group), i) =>
      // a key that does not cast into the domain matches no range
      val sorted = sample.flatMap(r => Option(r.get(i + 1)))
        .sortWith(cmp(_, _) < 0).toIndexedSeq
      group.partition(fe => anyKeyInRange(fe.stats(column), sorted))
    }
    val hit = split.flatMap(_._1)
    // Bloom refinement: random keys (md5-style pks) make every [min,max]
    // range overlap every file, so range pruning degenerates to "rewrite
    // all". Test the keys against each candidate file's parquet bloom
    // filter — no false negatives, so dropping a bloom-miss file is exact.
    // Files without a bloom for the column stay conservatively hit.
    val (bloomHit, bloomMiss) =
      if (hit.size <= 1) (hit, Seq.empty)
      else {
        val keyVals = sample.map(_.get(0)).toSeq
        hit.partition(fe => bloomMayContain(table, fe, column, keyVals))
      }
    (bloomHit ++ noStat, split.flatMap(_._2) ++ bloomMiss)
  }

  /** Does any of `sorted` (ascending in the domain of `s.kind`) fall in the
    * file's [min, max]? Binary search for the first key ≥ min, then one
    * test against max; a bound that does not compare in the stat's domain
    * is conservatively a hit. */
  private def anyKeyInRange(s: ColStats, sorted: IndexedSeq[Any]): Boolean = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      TableStore.cmpStat(s.min, s.kind, sorted(mid)) match {
        case None => return true
        case Some(c) if c > 0 => lo = mid + 1
        case _ => hi = mid
      }
    }
    lo < sorted.length && TableStore.cmpStat(s.max, s.kind, sorted(lo)).forall(_ >= 0)
  }

  /** Max distinct keys [[filesHitByKeys]] will test driver-side (ranges
    * and blooms); larger key sets fall back to a range-only join. */
  var bloomMaxKeys: Int = 10000

  /** Could `fe` contain any of `keyVals` in `column`, per the file's
    * parquet bloom filters? Conservative true when no bloom exists; exact
    * (no false negatives) when one does. Hashing follows the column's
    * physical type — mismatched hashing would silently lose rows. */
  private[graft] def bloomMayContain(table: String, fe: FileEntry, column: String,
      keyVals: Seq[Any]): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // footers carry the PINNED physical name — probe under it, or the
    // bloom of a renamed column would silently stop refining
    val physColumn = columnMapOf(table).getOrElse(column, column)
    val p = new Path(tableDir(table), fe.path)
    val in = HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try {
      reader.getFooter.getBlocks.asScala.exists { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == physColumn) match {
          case None => true
          case Some(c) =>
            val bf = reader.getBloomFilterDataReader(b).readBloomFilter(c)
            if (bf == null) true
            else {
              import org.apache.parquet.schema.LogicalTypeAnnotation
              val ptype = c.getPrimitiveType.getPrimitiveTypeName
              val ann = c.getPrimitiveType.getLogicalTypeAnnotation
              // The bloom hashes the PHYSICAL value. For decimal-annotated
              // INT32/INT64 that is the UNSCALED integer — hashing the key
              // via longValue() (scaled-truncated) would produce false
              // NEGATIVES and silently drop files that contain the key.
              // Keys whose exact unscaled form doesn't exist at the column's
              // scale cannot be present at all, but stay conservative.
              val decScale: Option[Int] = ann match {
                case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                  Some(d.getScale)
                case _ => None
              }
              def unscaled(k: Any): Option[Long] =
                try Some(TableStore.toBigDec(k)
                  .setScale(decScale.get).unscaledValue().longValueExact())
                catch { case _: ArithmeticException => None }
              // plain ints, dates (INT32 days) and timestamps (INT64
              // micros) match the key domain filesHitByKeys feeds us
              val intSafe = ann == null ||
                ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
                ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] ||
                ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
              keyVals.exists { k =>
                (ptype, k) match {
                  case (INT64, n: Number) if intSafe => bf.findHash(bf.hash(n.longValue()))
                  case (INT32, n: Number) if intSafe => bf.findHash(bf.hash(n.intValue()))
                  case (INT64, _) if decScale.isDefined =>
                    unscaled(k).forall(u => bf.findHash(bf.hash(u)))
                  case (INT32, _) if decScale.isDefined =>
                    unscaled(k).forall(u => u < Int.MinValue || u > Int.MaxValue ||
                      bf.findHash(bf.hash(u.toInt)))
                  case (BINARY, s) if ann.isInstanceOf[
                      LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                    bf.findHash(bf.hash(Binary.fromString(s.toString)))
                  case _ => true
                }
              }
            }
        }
      }
    } finally reader.close()
  }

  private def overlaps(s: ColStats, lower: Any, upper: Any): Boolean =
    (TableStore.cmpStat(s.max, s.kind, lower), TableStore.cmpStat(s.min, s.kind, upper)) match {
      case (Some(cMax), Some(cMin)) => cMax >= 0 && cMin <= 0
      case _ => true // bounds not comparable in the stat's domain — keep the file
    }


  /** Append (A5): metadata-only for existing data — the new snapshot keeps
    * every current file entry as-is and only writes the batch. O(batch)
    * I/O per append, matching Iceberg's fast-append semantics the
    * reference measured (reference/docs/README.md:123-129); the previous
    * full-table rewrite was O(table) per batch. Schema union follows
    * `unionByName(allowMissingColumns = true)`: batch columns are aligned
    * to the stored schema and genuinely new columns are added at the end
    * (old files read them back as null). */
  def append(table: String, df: DataFrame,
      operation: String = "append"): Long = {
    // Pure addition is safe to retry on an optimistic-commit conflict:
    // every attempt re-reads the (now newer) snapshot and carries ITS
    // files forward; nothing this writer decides depends on the snapshot
    // it lost against. (Rewrite-style commits — merge/update/delete —
    // deliberately surface CommitConflictException instead.)
    TableStore.retryOnConflict(3)(appendOnce(table, df, operation))
  }

  /** One non-retrying append attempt, surfacing
    * [[TableStore.CommitConflictException]] to the caller — for writers
    * whose retry decision depends on state OUTSIDE the table (e.g. an
    * index refresh that must first re-check whether a racing refresh
    * already folded the same source delta).
    *
    * `requireBase` (when ≥ 0) pins the attempt to the snapshot version
    * the CALLER's decision was derived from: if the table has advanced
    * past it by the time this attempt reads the manifest, the attempt
    * conflicts immediately instead of silently appending on top of a
    * rival's commit — without this, a rival that commits BETWEEN the
    * caller's read and this attempt's manifest read produces no CAS
    * conflict at all (the r6 refresh-race advisory). */
  private[graft] def appendOnce(table: String, df: DataFrame,
      operation: String, requireBase: Long = -1L): Long = {
    val m = head(table, requireBase)
    if (m.version == 0L) commit(table, df, operation, baseVersion = 0L)
    else {
      val existing = schemaOf(m.schemaJson)
      val extra = df.schema.fields.filterNot(f => existing.fieldNames.contains(f.name))
      // Appends inherit the table's partition spec (Iceberg semantics):
      // the batch splits into per-partition files with exact min=max
      // partition stats, instead of one file spanning every partition the
      // batch touches — which no range predicate could ever prune.
      // baseVersion pins the carried file list to the snapshot it was
      // read from; a racing commit trips the CAS and the append retries.
      commitFiles(table, m.files, Some(alignTo(df, StructType(existing.fields ++ extra))),
        operation, m.partitionBy, Seq.empty, baseVersion = m.version)
    }
  }

  /** Adopt existing parquet files as the next snapshot WITHOUT copying or
    * rewriting a byte — Iceberg's `add_files`/`migrate` path, and the only
    * sane way to bring an already-parquet 100 TB corpus under table
    * management (a CTAS ingest would rewrite all 100 TB; this writes one
    * manifest). `source` may be a single parquet file or a directory
    * (recursed). Adopted files are referenced by ABSOLUTE qualified URI
    * while native files stay table-relative; footer stats are harvested
    * exactly like written files, so min/max file skipping and metadata
    * aggregates work on adopted files from the first query, and
    * time-travel/append/MoR layers compose transparently (an adopted file
    * has sequence 0 — the oldest — so later equality deletes mask it, the
    * Iceberg `migrate` semantic). Ownership stays with the source:
    * [[expireSnapshots]] never deletes external paths and
    * [[removeOrphanFiles]] only scans the table directory, so dropping the
    * adopted snapshot later leaves the source corpus untouched.
    *
    * When the table already exists this is a metadata-only append of the
    * adopted files; reads project them through the table's schema
    * (name-resolved, missing columns null — same rule as schema
    * evolution). */
  def addFiles(table: String, source: String): Long = {
    val base = head(table)
    require(base.columnMap.isEmpty,
      s"add_files: $table has renamed columns (pinned physical names); " +
        "adopted foreign files cannot be name-mapped — clone or rewrite instead")
    val src = new Path(source)
    val f = fs(src)
    require(f.exists(src), s"add_files source not found: $source")
    val statuses =
      if (f.getFileStatus(src).isFile) Seq(f.getFileStatus(src))
      else {
        val it = f.listFiles(src, true)
        val buf = ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
        while (it.hasNext) {
          val s = it.next()
          val n = s.getPath.getName
          if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
            buf += s
        }
        buf.toSeq.sortBy(_.getPath.toString)
      }
    require(statuses.nonEmpty, s"add_files: no parquet files under $source")
    val entries = harvestInParallel(statuses)(s => fileEntry(s.getPath,
      f.makeQualified(s.getPath).toString, "", s.getLen, Map.empty, Map.empty))
    val schemaJson =
      if (base.version > 0L) base.schemaJson
      else spark.read.parquet(statuses.map(_.getPath.toString): _*).schema.json
    // adopted files are validated like staged ones when constraints exist
    if (base.constraints.nonEmpty)
      checked(spark.read.schema(schemaOf(schemaJson))
        .parquet(statuses.map(_.getPath.toString): _*), base.constraints).count()
    // the successor of the carried snapshot (CAS on rivals)
    publish(table, successor(base, "add_files", base.files, entries)
      .copy(schemaJson = schemaJson))
  }

  /** Read the latest snapshot. */
  def read(table: String): DataFrame = readVersion(table, currentVersion(table))

  /** Read a specific version (`VERSION AS OF`) — by the manifest's explicit
    * file list, never by directory listing (a snapshot may reference files
    * from several version directories after copy-on-write commits). */
  def readVersion(table: String, v: Long): DataFrame = {
    require(v > 0 && fs(manifestPath(table, v)).exists(manifestPath(table, v)),
      s"table $table has no version $v")
    val m = manifests(table).find(_.version == v).get
    readManifest(table, m)
  }

  /** `schema` with every field renamed to its pinned PHYSICAL name (the
    * name actually inside the parquet files) — identity when the table
    * was never column-renamed. */
  private def physSchemaOf(schema: org.apache.spark.sql.types.StructType,
      cmap: Map[String, String]): org.apache.spark.sql.types.StructType =
    if (cmap.isEmpty) schema
    else org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))

  /** Rename a physically-named frame back to the LOGICAL schema (order
    * preserved; extra helper columns must already be gone). */
  private def toLogical(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      cmap: Map[String, String]): DataFrame =
    if (cmap.isEmpty) df
    else df.select(schema.fields.toSeq.map(f =>
      col(cmap.getOrElse(f.name, f.name)).as(f.name)): _*)

  private def readManifest(table: String, m: Manifest): DataFrame = {
    val schema = schemaOf(m.schemaJson)
    val cmap = m.columnMap.toMap
    val pSchema = physSchemaOf(schema, cmap)
    val plain =
      if (m.files.isEmpty) spark.createDataFrame(new java.util.ArrayList[Row](), pSchema)
      else spark.read.schema(pSchema)
        .parquet(m.files.map(fe => new Path(tableDir(table), fe.path).toString): _*)
    if (m.deleteFiles.isEmpty) toLogical(plain, schema, cmap)
    else {
      // Merge-on-read. Equality deletes: drop rows whose key appears in a
      // delete file with a LARGER sequence than the data file's own
      // (same-version new images survive — Iceberg v2 semantics). Data
      // files group by their version prefix (≤ #commits groups, so the
      // union is shallow); the delete side is churn-sized and AQE
      // broadcasts it, so the read amplification is one small hash
      // join — the trade that makes O(churn) writes possible.
      // Positional deletes: anti-join on the row's own (file, pos) from
      // the scan's `_metadata` columns — no sequence logic, a positional
      // delete names immutable file paths directly.
      val (posDels, eqDels) = m.deleteFiles.partition(TableStore.isPositional)
      val root = tableDir(table)
      val qualBase = fs(root).makeQualified(root).toString.stripSuffix("/")
      val bySeq = m.files.groupBy(fe => TableStore.fileSeqOf(fe.path)).toSeq.sortBy(_._1)
      val tagged = bySeq.map { case (s, fes) =>
        val base = spark.read.schema(pSchema)
          .parquet(fes.map(fe => new Path(root, fe.path).toString): _*)
        val withPos =
          if (posDels.isEmpty) base
          else base
            .withColumn("__file", functions.expr(
              s"substring(_metadata.file_path, ${qualBase.length + 2})"))
            .withColumn("__pos", col("_metadata.row_index"))
        withPos.withColumn("__seq", functions.lit(s))
      }.reduceOption(_ unionByName _).getOrElse {
        val empty = spark.createDataFrame(new java.util.ArrayList[Row](), pSchema)
          .withColumn("__seq", functions.lit(0L))
        if (posDels.isEmpty) empty
        else empty.withColumn("__file", functions.lit(""))
          .withColumn("__pos", functions.lit(0L))
      }
      val afterEq =
        if (eqDels.isEmpty) tagged
        else {
          val keyCols = eqDels.head.keyCols
            .map(k => cmap.getOrElse(k, k))
          val dels = eqDels.map { d =>
            spark.read.parquet(new Path(root, d.path).toString)
              .withColumn("__dseq", functions.lit(d.seq))
          }.reduce(_ unionByName _)
            .groupBy(keyCols.map(col): _*)
            .agg(functions.max(col("__dseq")).as("__dmax"))
          tagged.join(dels, keyCols, "left")
            .filter(col("__dmax").isNull || col("__dmax") <= col("__seq"))
        }
      val afterPos =
        if (posDels.isEmpty) afterEq
        else {
          val pd = posDels.map(d =>
            spark.read.parquet(new Path(root, d.path).toString))
            .reduce(_ unionByName _)
            .select(col("__file"), col("__pos"))
          afterEq.join(pd, Seq("__file", "__pos"), "left_anti")
        }
      afterPos.select(schema.fields.toSeq.map(f =>
        col(cmap.getOrElse(f.name, f.name)).as(f.name)): _*)
    }
  }

  /** Time travel (A14): latest version committed at or before `tsMillis`. */
  def readAsOf(table: String, tsMillis: Long): DataFrame = {
    val m = manifests(table).filter(_.timestampMs <= tsMillis)
    require(m.nonEmpty, s"table $table has no snapshot at or before $tsMillis")
    readVersion(table, m.map(_.version).max)
  }

  /** Incremental read: the rows ADDED between `fromVersion` (exclusive)
    * and `toVersion` (inclusive) — the feed an incremental downstream
    * pipeline consumes instead of rescanning the table. Planning is
    * metadata-only (manifest file-set difference per snapshot; the scan
    * touches exactly the new files), so the cost scales with the DELTA,
    * not the table. Append-style snapshots only (create/append/insert/
    * bulk_insert): copy-on-write snapshots (merge/update/delete/compact)
    * rewrite surviving rows into new files, so "added files" would
    * re-emit old rows as if new — those snapshots raise, matching the
    * append-scan contract of the reference's table format (an engine
    * cannot reconstruct row-level changes without delete files). */
  def readIncremental(table: String, fromVersion: Long, toVersion: Long,
      skipRewrites: Boolean = false): DataFrame = {
    val ms = manifests(table)
    require(ms.exists(_.version == toVersion),
      s"table $table has no version $toVersion")
    val added = addedFilesBetween(table, fromVersion, toVersion, skipRewrites)
    val toManifest = ms.find(_.version == toVersion).get
    val schema = schemaOf(toManifest.schemaJson)
    val cmap = toManifest.columnMap.toMap
    if (added.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else toLogical(spark.read.schema(physSchemaOf(schema, cmap))
      .parquet(added.map(fe =>
        new Path(tableDir(table), fe.path).toString): _*), schema, cmap)
  }

  /** The data files first referenced in versions (`fromVersion`,
    * `toVersion`] — the file-level delta behind [[readIncremental]] and
    * the streaming table source. `skipRewrites = false` (default) rejects
    * non-append snapshots in the range; `true` ignores the files such
    * snapshots add (their rows were emitted when first appended — the
    * consumer keeps its at-least-once view without re-reading rewrites).
    * create/append/insert/bulk_insert add files that ARE the new rows;
    * alter/expire_snapshots/rollback are metadata-only for file ADDITION
    * accounting only when skipping — a strict consumer must not span
    * rollback (restored files would look newly added). */
  def addedFilesBetween(table: String, fromVersion: Long, toVersion: Long,
      skipRewrites: Boolean = false): Seq[FileEntry] = {
    val ms = manifests(table)
    require(fromVersion >= 0 && toVersion >= fromVersion,
      s"invalid version range [$fromVersion, $toVersion]")
    require(fromVersion == 0 || ms.exists(_.version == fromVersion),
      s"table $table has no version $fromVersion")
    val range = ms.filter(m => m.version > fromVersion && m.version <= toVersion)
      .sortBy(_.version)
    // create/append/insert/bulk_insert add files that ARE the new rows;
    // alter/expire_snapshots are metadata-only (no files added, safe to
    // span). Everything else (merge/update/delete/compact/overwrite/
    // rollback) rewrites or re-exposes old rows and is rejected — or,
    // with skipRewrites, contributes no files.
    val safeOps = Set("create", "append", "insert", "bulk_insert",
      "add_files", "alter", "expire_snapshots")
    val nonAppend = range.filterNot(m => safeOps.contains(m.operation))
    if (!skipRewrites)
      require(nonAppend.isEmpty,
        s"incremental read over non-append snapshot(s) " +
          s"${nonAppend.map(m => s"v${m.version}(${m.operation})").mkString(", ")}: " +
          "copy-on-write rewrites carry old rows into new files")
    val skipped = nonAppend.map(_.version).toSet
    // Files first referenced inside the range, deduplicated across the
    // range's snapshots (append carries prior files forward). A SKIPPED
    // snapshot's files still become KNOWN — later appends carry them
    // forward, and they must not masquerade as newly added then.
    val known = scala.collection.mutable.HashSet.empty[String]
    known ++= ms.filter(_.version <= fromVersion).flatMap(_.files.map(_.path))
    val added = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    range.foreach { m =>
      m.files.foreach { fe =>
        if (!known.contains(fe.path)) {
          if (!skipped.contains(m.version)) added += fe.path -> fe
          known += fe.path
        }
      }
    }
    added.values.toSeq
  }

  /** `$history` metadata table (A15), newest first. */
  def history(table: String): DataFrame = {
    import spark.implicits._
    manifests(table).sortBy(-_.version)
      .map(m => (m.version, new java.sql.Timestamp(m.timestampMs), m.operation,
        m.rowCount, m.files.size.toLong, m.files.map(_.sizeBytes).sum))
      .toDF("version", "made_current_at", "operation", "row_count",
        "file_count", "size_bytes")
  }

  /** Bin-pack compaction (A16): rewrite the current snapshot into
    * ~`targetFileBytes` files. Uses `coalesce` (no shuffle) when shrinking
    * the file count — at cluster scale this is the cheap path; growing the
    * count (splitting skewed files) uses a round-robin repartition.
    */
  def compact(table: String, targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val m = manifests(table).maxBy(_.version)
    val totalBytes = m.files.map(_.sizeBytes).sum
    val want = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = read(table)
    val packed = if (want <= m.files.size) df.coalesce(want) else df.repartition(want)
    // pinned: a rival committing mid-rewrite trips the CAS instead of
    // having its rows silently dropped by this full-content replace
    commit(table, packed, "compact", baseVersion = m.version)
  }

  /** Partial compaction (Iceberg's `rewrite_data_files(where => ...)`):
    * bin-pack ONLY the files whose [min,max] stats overlap
    * [lower, upper] on `column`; every other file is carried untouched —
    * the 100 TB maintenance reality, where a table is compacted region
    * by region (yesterday's partition, one tenant's range) and never
    * wholesale. Stat-less files are conservatively included. The
    * rewritten region reads THROUGH any merge-on-read overlay (masked
    * rows are materialized away); the overlay is carried for the
    * untouched files by the usual sequence rule, and the new files'
    * higher sequence keeps them unmasked. */
  def compactWhere(table: String, column: String, lower: Any, upper: Any,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val m = manifests(table).maxBy(_.version)
    if (lower == null || upper == null) return m.version
    val (hit, kept) = m.files.partition(fe =>
      fe.stats.get(column).forall(overlaps(_, lower, upper)))
    if (hit.isEmpty) return m.version
    val df = readFiles(table, hit)
    val want = math.max(1, math.ceil(
      hit.map(_.sizeBytes).sum.toDouble / targetFileBytes).toInt)
    val packed = if (want <= hit.size) df.coalesce(want) else df.repartition(want)
    // pinned: a rival committing mid-rewrite conflicts instead of having
    // its files dropped by a file list decided against `m`
    commitFiles(table, kept, Some(packed), "compact", baseVersion = m.version)
  }

  /** Sort-clustered rewrite (Iceberg's `rewrite_data_files` with a sort
    * strategy): rewrite the current snapshot range-partitioned AND sorted
    * on `sortCols`, so per-file [min,max] ranges on the leading sort
    * column become (near-)disjoint and every stats-pruned path —
    * [[readWhere]], MERGE planning, runtime IN-list pruning — skips all
    * but the files that actually hold the range. The write is one range
    * shuffle + local sort (the same cost shape as a global `orderBy`
    * write); on an append-heavy table this is the periodic maintenance
    * action that restores data-skipping after many interleaved appends,
    * exactly as in Iceberg. `repartitionByRange` samples the sort key, so
    * file boundaries adapt to skew (a hot key gets its own files instead
    * of widening every file's range). */
  def rewriteSorted(table: String, sortCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(sortCols.nonEmpty, "rewriteSorted needs at least one sort column")
    val m = manifests(table).maxBy(_.version)
    val totalBytes = m.files.map(_.sizeBytes).sum
    val want = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val cols = sortCols.map(col)
    val sorted = read(table)
      .repartitionByRange(want, cols: _*)
      .sortWithinPartitions(cols: _*)
    commit(table, sorted, "rewrite_sorted", baseVersion = m.version)
  }

  /** Z-order rewrite (Iceberg's `rewrite_data_files` ZORDER strategy):
    * cluster the current snapshot on the bit-interleaving of several
    * columns so range pruning works on EVERY clustered column at once —
    * where a lexicographic sort gives perfect skipping on the first
    * column and none on the rest, the z-curve gives each of k columns
    * ~|files|^(1/k)-grade skipping. Each column is normalized to a
    * `bitsPerCol`-bit bucket by min/max (one tiny column-pruned agg job),
    * buckets are bit-interleaved into one long z-value with pure codegen'd
    * bit arithmetic, and the table is range-partitioned + sorted on it —
    * the same one-shuffle cost shape as [[rewriteSorted]]. Nulls bucket
    * to 0 (files holding nulls keep honest stats and are never wrongly
    * pruned — stat pruning only ever skips on non-null ranges). */
  def rewriteZOrder(table: String, cols: Seq[String], bitsPerCol: Int = 16,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(cols.size >= 2, "z-order needs >= 2 columns (use rewriteSorted for 1)")
    require(bitsPerCol * cols.size <= 62,
      s"bitsPerCol * cols must fit a long, got ${bitsPerCol * cols.size} bits")
    // snapshot pinned BEFORE the content read: commit targets exactly
    // this version + 1, so a rival mid-rewrite trips the CAS instead of
    // losing its rows to the full-content replace
    val m0 = manifests(table).maxBy(_.version)
    val df = readManifest(table, m0)
    val boundsRow = df.agg(
      functions.array(cols.flatMap(c =>
        Seq(functions.min(col(c).cast("double")),
          functions.max(col(c).cast("double")))): _*).as("b")).head
    val rawBounds = boundsRow.getSeq[Any](0)
    // An empty table (or an all-null column) has no min/max — there is
    // nothing to cluster; recommit as-is rather than NPE on the unboxing.
    if (rawBounds.exists(_ == null)) return commit(table, df, "rewrite_zorder", baseVersion = m0.version)
    val bounds = rawBounds.map(_.asInstanceOf[Double])
    val maxBucket = (1L << bitsPerCol) - 1
    val z = cols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (bounds(2 * i), bounds(2 * i + 1))
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      val bucket = functions.least(functions.lit(maxBucket),
        functions.greatest(functions.lit(0L),
          functions.floor((functions.coalesce(col(c).cast("double"),
            functions.lit(lo)) - lo) / span * maxBucket).cast("long")))
      // spread bucket bits of column i to positions k*ncols + i
      (0 until bitsPerCol).map { k =>
        functions.shiftleft(
          functions.shiftrightunsigned(bucket, k).bitwiseAND(1L),
          k * cols.size + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
    val totalBytes = m0.files.map(_.sizeBytes).sum
    val want = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val sorted = df.withColumn("__z", z)
      .repartitionByRange(want, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    commit(table, sorted, "rewrite_zorder", baseVersion = m0.version)
  }

  // -------------------------------------------------------- merge-on-read

  /** Merge-on-read upsert (Iceberg v2 equality deletes): the new snapshot
    * carries EVERY prior data file untouched, plus the source rows as new
    * data files, plus an equality-delete file of the source's distinct
    * keys — readers drop older images of those keys at scan time
    * ([[readManifest]]'s delete join). Write cost is O(source) no matter
    * the update proportion: at the 99%-updates cell where copy-on-write
    * rewrites the whole table, this writes one churn-sized delta — the
    * read side pays one broadcast-sized anti-join until
    * [[compact]]/[[rewriteSorted]] materializes the deletes away (any
    * full rewrite clears them, since it reads through the MoR view).
    * Library reads ([[read]]/[[readWhere]]/[[readVersion]]/time travel)
    * apply deletes; SQL catalog reads REFUSE a table with live deletes
    * (`CALL compact` first) rather than silently resurrect dead rows;
    * [[readChangelog]] likewise requires materialization. */
  def upsertMoR(table: String, source: DataFrame, keyCols: Seq[String],
      streamEpoch: Option[(String, Long)] = None): Long =
    morWrite(table, Some(source), source, keyCols, "upsert_mor", streamEpoch)

  /** Merge-on-read delete: `keys` (exactly the key columns) are dropped
    * from every existing data file at scan time; nothing is rewritten. */
  def deleteKeysMoR(table: String, keys: DataFrame, keyCols: Seq[String],
      streamEpoch: Option[(String, Long)] = None): Long =
    morWrite(table, None, keys, keyCols, "delete_mor", streamEpoch)

  /** Predicate DELETE as a POSITIONAL merge-on-read commit (Iceberg v2's
    * positional delete files): matching rows are recorded as
    * `(__file, __pos)` — table-relative data-file path + row index from
    * the scan's `_metadata` columns — in one delete file; NO data file is
    * touched and no key columns are needed (works on keyless tables,
    * duplicates and all; equality deletes can't express "this occurrence
    * but not that one"). Write cost: one filter-pushed scan (parquet
    * row-group skipping applies) + an O(matched) delete-file write. Read
    * cost: one anti-join on (file, pos) — no sequence logic, since a
    * positional delete names immutable file paths directly. Readers:
    * library path applies them; SQL scans refuse and point at
    * `CALL compact` (the per-row broadcast reader has no row-index
    * access), same honest-cap pattern as the delete-key cap. */
  def deleteWhereMoR(table: String, predicateSql: String): Long = {
    require(exists(table), s"deleteWhereMoR: table $table does not exist")
    val m = manifests(table).maxBy(_.version)
    require(m.files.forall(_.path.startsWith("v=")),
      s"deleteWhereMoR needs table-relative data files; compact $table first")
    val schema = schemaOf(m.schemaJson)
    val root = tableDir(table)
    val qualBase = fs(root).makeQualified(root).toString.stripSuffix("/")
    val cmapD = m.columnMap.toMap
    val physD = physSchemaOf(schema, cmapD)
    // the predicate is written against LOGICAL names: rename the scan's
    // output first (keeping _metadata reachable for the position columns)
    val scanD = spark.read.schema(physD)
      .parquet(m.files.map(fe => new Path(root, fe.path).toString): _*)
    val hits = (if (cmapD.isEmpty) scanD
      else scanD.select(schema.fields.toSeq.map(f =>
        col(cmapD.getOrElse(f.name, f.name)).as(f.name)) :+
        col("_metadata"): _*))
      .filter(functions.expr(predicateSql))
      .select(
        functions.expr(
          s"substring(_metadata.file_path, ${qualBase.length + 2})")
          .as("__file"),
        col("_metadata.row_index").as("__pos"))
    // the successor of the carried snapshot (CAS on rivals)
    val dels = writeDeletes(table, m.version + 1, hits, TableStore.PosDeleteKey)
    publish(table, m.next("delete_where_mor").copy(deleteFiles = m.deleteFiles ++ dels))
  }

  /** Write `rows` as delete files of version `v`, in their own
    * writer-unique `deletes-` subdir (never confused with the version's
    * data files; racing commits never share an output dir), and return
    * their entries at sequence `v`. */
  private def writeDeletes(table: String, v: Long, rows: DataFrame,
      keyCols: Seq[String]): Seq[DeleteEntry] = {
    val rel = s"v=$v/deletes-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new Path(tableDir(table), rel)
    rows.write.mode("overwrite").parquet(dir.toString)
    deleteEntries(dir, s"$rel/", keyCols, v)
  }

  /** Entries for the delete files under `dir`, recorded as
    * `<prefix><file name>` with their footer row counts. */
  private def deleteEntries(dir: Path, prefix: String, keyCols: Seq[String],
      seq: Long): Seq[DeleteEntry] =
    listPartFiles(dir, fs(dir)).map(s =>
      DeleteEntry(prefix + s.getPath.getName, keyCols, seq, footerStats(s.getPath)._1))

  /** One-commit CDC apply (merge-on-read): `cdc` carries upsert rows and
    * delete markers (`deleteCol` = true drops the key). New images land as
    * data files; EVERY key in the batch (upserted or deleted) lands in one
    * delete file masking its older images — so a whole CDC batch is a
    * single atomic O(churn) snapshot. That one-commit shape is what a
    * streaming upsert sink needs: one epoch = one ledger entry, so the
    * replay check can never skip half a batch. */
  def applyCdcMoR(table: String, cdc: DataFrame, keyCols: Seq[String],
      deleteCol: String, streamEpoch: Option[(String, Long)] = None): Long =
    morWrite(table,
      Some(cdc.filter(!col(deleteCol).cast("boolean")).drop(deleteCol)),
      cdc, keyCols, "cdc_mor", streamEpoch)

  /** A merge-on-read delta is PURE ADDITION (new data + delete files; every
    * prior file carried), so a lost optimistic commit retries safely like
    * an append: each attempt re-reads the now-newer snapshot and layers
    * the same delta on top of it. */
  private def morWrite(table: String, dataRows: Option[DataFrame],
      keySource: DataFrame, keyCols: Seq[String], operation: String,
      streamEpoch: Option[(String, Long)]): Long =
    TableStore.retryOnConflict(5)(morWriteOnce(table, dataRows, keySource, keyCols,
      operation, streamEpoch))

  private def morWriteOnce(table: String, dataRows: Option[DataFrame],
      keySource: DataFrame, keyCols: Seq[String], operation: String,
      streamEpoch: Option[(String, Long)]): Long = {
    require(exists(table), s"$operation: table $table does not exist")
    require(keyCols.nonEmpty, s"$operation needs at least one key column")
    // Same exactly-once ledger as commitStaged: a replayed sink epoch no-ops.
    streamEpoch.foreach { case (qid, e) =>
      if (lastStreamEpoch(table, qid).exists(_ >= e)) return currentVersion(table)
    }
    val m = manifests(table).maxBy(_.version)
    require(m.files.forall(_.path.startsWith("v=")),
      s"$operation needs version-sequenced data files; compact $table first")
    // positional deletes coexist with any equality key set (they mask
    // file positions, not key tuples) — only the EQUALITY overlay must
    // agree on its key columns
    require(m.deleteFiles.filterNot(TableStore.isPositional)
        .forall(_.keyCols == keyCols),
      s"$operation: existing delete files use keys " +
        s"${m.deleteFiles.map(_.keyCols).distinct}; compact $table first")
    val existing = schemaOf(m.schemaJson)
    keyCols.foreach(k => require(existing.fieldNames.contains(k),
      s"$operation: key column $k not in table schema"))
    // pinned to the manifest this delta carries: a rival landing after
    // the read trips the CAS and morWrite's retry re-layers on its state
    val v = m.version + 1
    val dataEntries = dataRows match {
      case None => Seq.empty
      case Some(source) =>
        val rel = s"v=$v/w-${java.util.UUID.randomUUID().toString.take(8)}"
        writeDataFiles(new Path(tableDir(table), rel), rel,
          applyWriteOrder(m.writeOrder, checked(alignTo(source, existing), m.constraints),
            m.partitionBy), m.partitionBy, Seq.empty, m.columnMap.toMap)
    }
    // An upsert's delete keys are BY DEFINITION the keys of the rows just
    // written (upsertMoR passes the same frame as data and key source) —
    // so read them back from the freshly written data files instead of
    // evaluating the source a second time. At scale the source is often
    // an expensive query (or, in the curation bench, a regenerated churn
    // batch); the read-back is a column-pruned scan of exactly the key
    // columns. CDC batches keep the separate key source (it carries
    // delete markers the data files don't).
    val cmapW = m.columnMap.toMap
    val keySrc = dataRows match {
      case Some(d) if (d eq keySource) && dataEntries.nonEmpty =>
        toLogical(spark.read.schema(physSchemaOf(existing, cmapW)).parquet(
          dataEntries.map(fe => new Path(tableDir(table), fe.path).toString): _*),
          existing, cmapW)
      case _ => keySource
    }
    val keyTypes = keyCols.map(k => existing.fields(existing.fieldIndex(k)))
    // Cluster by key BEFORE the distinct: a bare .distinct() runs its
    // partial hash-agg on the unshuffled map side, where a churn-sized
    // batch of mostly-unique keys builds one near-full hash map PER
    // CONCURRENT TASK (measured: 287M md5 keys × 32 tasks OOM'd a 20 GB
    // heap). With the keys hash-clustered first, the pre-shuffle side is
    // a memory-light pass-through and the aggregation runs once per
    // bounded post-shuffle partition — same single shuffle, no
    // cardinality-proportional map-side state.
    // No global dedup on the write path — a deliberate r7 reversal.
    // Equality-delete consumers are set-semantic throughout (the MoR
    // read is an anti-join per sequence class; the SQL broadcast cap
    // only becomes CONSERVATIVE under duplicate rows; changelog refuses
    // MoR tables outright), and compactDeletes' groupBy(keys).max(seq)
    // dedups offline where maintenance belongs — Iceberg's equality-
    // delete writers make the same call. The alternatives both measured
    // badly at scale: a map-side distinct holds cardinality-proportional
    // hash state per task (287M-key batches OOM'd a 20 GB heap at
    // sf100), and shuffling first (repartition by key, either AQE-sized
    // or pinned) tripled the sf10 p=0.99 cdc cell mid-grid (13 s → 36 s
    // / 55 s measured). A key dump is a narrow column-pruned scan +
    // write: zero shuffle, zero aggregation state, at any batch size.
    val dels = writeDeletes(table, v, keySrc.select(keyTypes.map(f =>
      col(f.name).cast(f.dataType).as(cmapW.getOrElse(f.name, f.name))): _*), keyCols)
    publish(table, m.next(operation).copy(files = m.files ++ dataEntries,
      deleteFiles = m.deleteFiles ++ dels, streamEpoch = streamEpoch))
  }

  /** Delete-file compaction (Iceberg's `rewrite_delete_files`): rewrite
    * the merge-on-read overlay WITHOUT touching any data file — the minor
    * compaction a continuous CDC stream needs, where one delete file per
    * epoch accretes into a read-time tax (every scan loads every delete
    * file) long before a full rewrite is worth its cost.
    *
    * Three exact reductions, each justified by the mask rule ("a delete at
    * sequence s masks data files with fileSeq < s; readers take the max
    * sequence per key"):
    *   1. duplicate keys collapse to their maximum sequence (the lookup
    *      every reader derives anyway);
    *   2. delete sequences sharing the same greatest smaller DATA-file
    *      sequence mask the identical file set, so each class merges to
    *      its canonical minimum p(s)+1 — delete-only epochs (no data
    *      files at their seq) collapse into their neighbors, one file
    *      per surviving class instead of one per commit;
    *   3. a class with no smaller data file masks nothing — dropped.
    *
    * Cost is O(overlay): one churn-sized shuffle, no data file is opened.
    * The commit is a new snapshot carrying the same data files. */
  def compactDeletes(table: String): Long = {
    require(exists(table), s"compactDeletes: table $table does not exist")
    val m = manifests(table).maxBy(_.version)
    // positional deletes are carried untouched (their reductions don't
    // apply: they name file positions, not sequence-classed key tuples)
    val (posCarry, eqDelsAll) = m.deleteFiles.partition(TableStore.isPositional)
    if (eqDelsAll.isEmpty) return m.version
    val keyCols = eqDelsAll.head.keyCols
    val schema = schemaOf(m.schemaJson)
    // delete files store PHYSICAL key names; rewrite them the same way
    val cmapC = m.columnMap.toMap
    val physKeyCols = keyCols.map(k => cmapC.getOrElse(k, k))
    val keySchema = org.apache.spark.sql.types.StructType(
      keyCols.map(k => schema.fields(schema.fieldIndex(k))
        .copy(name = cmapC.getOrElse(k, k))))
    val root = tableDir(table)
    val all = eqDelsAll.groupBy(_.seq).toSeq.map { case (s, dels) =>
      spark.read.schema(keySchema)
        .parquet(dels.map(d => new Path(root, d.path).toString): _*)
        .withColumn("__seq", functions.lit(s))
    }.reduce(_.unionByName(_))
    val maxed = all.groupBy(physKeyCols.map(col): _*)
      .agg(functions.max(col("__seq")).as("__seq"))
    // canonical class seq: outermost branch tests the LARGEST data seq,
    // so the expression resolves to (greatest data seq < s) + 1
    val dataSeqs = m.files.map(fe => TableStore.fileSeqOf(fe.path))
      .distinct.sorted
    val canon = dataSeqs.foldLeft(functions.lit(null).cast("long")) {
      (acc, ds) => functions.when(col("__seq") > ds, functions.lit(ds + 1))
        .otherwise(acc)
    }
    val keyed = maxed.withColumn("__c", canon).filter(col("__c").isNotNull)
    // the successor of the carried snapshot (CAS on rivals)
    val rel = s"v=${m.version + 1}/deletes-${java.util.UUID.randomUUID().toString.take(8)}"
    val delDir = new Path(root, rel)
    // distinct surviving classes: ≤ #data commits — bounded metadata
    val classes = keyed.select(col("__c")).distinct().collect()
      .map(_.getLong(0)).sorted
    if (classes.nonEmpty)
      // files must hold EXACTLY the key columns (readers schema-infer)
      keyed.repartition(classes.length, col("__c"))
        .select(physKeyCols.map(col) :+ col("__c"): _*)
        .write.partitionBy("__c").mode("overwrite").parquet(delDir.toString)
    val dels = classes.toSeq.flatMap(c =>
      deleteEntries(new Path(delDir, s"__c=$c"), s"$rel/__c=$c/", keyCols, c))
    publish(table, m.next("compact_deletes").copy(deleteFiles = dels ++ posCarry))
  }

  /** Positional-delete consolidation (Iceberg v3's move to delete
    * vectors): every `delete_where_mor` commit adds one positional delete
    * file, and a scan must load them ALL — under continuous predicate
    * deletes the overlay becomes many small files whose union the reader
    * re-derives per query. This rewrites the whole positional overlay
    * into one deduplicated, (file, pos)-sorted delete set — sorted so
    * parquet delta-encodes the positions (the on-disk analogue of a
    * run-length bitmap) and each data file's mask is one contiguous
    * range of one delete file. Equality deletes are carried untouched;
    * no data file is opened. Cost: one O(overlay) shuffle. */
  def rewritePositionDeletes(table: String): Long = {
    require(exists(table),
      s"rewritePositionDeletes: table $table does not exist")
    val m = manifests(table).maxBy(_.version)
    val (posDels, eqCarry) = m.deleteFiles.partition(TableStore.isPositional)
    if (posDels.size <= 1) return m.version
    val root = tableDir(table)
    val merged = spark.read
      .parquet(posDels.map(d => new Path(root, d.path).toString): _*)
      .select(col("__file"), col("__pos")).distinct()
      .repartitionByRange(col("__file"), col("__pos"))
      .sortWithinPartitions(col("__file"), col("__pos"))
    // the successor of the carried snapshot (CAS on rivals)
    val dels = writeDeletes(table, m.version + 1, merged, TableStore.PosDeleteKey)
    publish(table, m.next("rewrite_position_deletes").copy(deleteFiles = eqCarry ++ dels))
  }

  /** Row-level change feed between snapshots (Iceberg's changelog scan /
    * `create_changelog_view`): for each version step a→b inside
    * [fromVersion, toVersion], emit the step's row-level delta tagged
    * `_change_type` ('insert' | 'delete') and `_commit_version` (= b).
    * `fromVersion = 0` starts before table creation, so v1's rows arrive
    * as inserts.
    *
    * Planning is metadata-only (manifest path diff) and each step scans
    * ONLY its changed files; rows present in both the removed and the
    * added files cancel via `exceptAll`, so a copy-on-write rewrite emits
    * exactly its logically-changed rows — an updated row becomes one
    * 'delete' (old image) + one 'insert' (new image), and a pure
    * compaction (rows only relocated) emits nothing. Appends
    * short-circuit to added-file reads with no diff at all. At 100 TB
    * the cost is bounded by the churn, never the table: untouched files
    * are never opened, and the exceptAll shuffle covers only rewritten
    * files' rows. Rows are aligned to `toVersion`'s schema (pre-evolution
    * images surface missing columns as null). Steps between EXPIRED
    * intermediate snapshots collapse into one combined diff — net-exact,
    * per-commit attribution is just coarser. */
  def readChangelog(table: String, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion >= 0 && toVersion >= fromVersion,
      s"need 0 <= fromVersion <= toVersion, got $fromVersion..$toVersion")
    val inRange = manifests(table)
      .filter(m => m.version >= fromVersion && m.version <= toVersion)
      .sortBy(_.version)
    require(inRange.nonEmpty,
      s"table $table has no snapshots in $fromVersion..$toVersion")
    require(inRange.forall(_.deleteFiles.isEmpty),
      s"changelog across merge-on-read snapshots of $table requires " +
        "materializing the deletes first (compact the table)")
    val chain =
      if (fromVersion == 0 && inRange.nonEmpty)
        inRange.head.copy(files = Seq.empty) +: inRange
      else inRange
    val outSchema = schemaOf(chain.last.schemaJson)
    val steps = chain.zip(chain.drop(1)).flatMap { case (a, b) =>
      val aPaths = a.files.map(_.path).toSet
      val bPaths = b.files.map(_.path).toSet
      val added = b.files.filterNot(f => aPaths.contains(f.path))
      val removed = a.files.filterNot(f => bPaths.contains(f.path))
      if (added.isEmpty && removed.isEmpty) None
      else {
        val addedRows =
          if (added.isEmpty) None
          else Some(alignTo(readManifest(table, b.copy(files = added)), outSchema))
        val removedRows =
          if (removed.isEmpty) None
          else Some(alignTo(readManifest(table, a.copy(files = removed)), outSchema))
        val (ins, del) = (addedRows, removedRows) match {
          case (Some(ar), Some(rr)) => (Some(ar.exceptAll(rr)), Some(rr.exceptAll(ar)))
          case other => other
        }
        def tag(df: DataFrame, kind: String) = df
          .withColumn("_change_type", functions.lit(kind))
          .withColumn("_commit_version", functions.lit(b.version))
        Some((ins.map(tag(_, "insert")) ++ del.map(tag(_, "delete")))
          .reduce(_ unionByName _))
      }
    }
    val taggedSchema = org.apache.spark.sql.types.StructType(outSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false)))
    if (steps.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), taggedSchema)
    else steps.reduce(_ unionByName _)
  }

  // ----------------------------------------------------------- named tags

  private def refPath(table: String, name: String): Path =
    new Path(new Path(tableDir(table), "_refs"), name)

  /** Tag a snapshot version with an immutable name (Iceberg tags): named
    * time travel for audits and reproducible training runs — a dataset
    * release is `createTag("corpus", "v2-release", v)` and every consumer
    * reads `readTag`/SQL `VERSION AS OF 'v2-release'` forever, immune to
    * later commits AND to snapshot expiry ([[expireSnapshots]] never drops
    * a tagged version). Create-exclusive: re-pointing a name requires
    * [[dropTag]] first — silent retargeting is the failure mode tags exist
    * to prevent. */
  def createTag(table: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"tag name '$name' must not be purely numeric (collides with versions)")
    require(fs(manifestPath(table, version)).exists(manifestPath(table, version)),
      s"table $table has no version $version")
    atomicWriteExclusive(refPath(table, name), version.toString)
  }

  def tagVersion(table: String, name: String): Long = {
    val p = refPath(table, name)
    val f = fs(p)
    require(f.exists(p), s"table $table has no tag '$name'")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in).mkString.trim.toLong
    finally in.close()
  }

  /** Read the snapshot a tag points at (named time travel). */
  def readTag(table: String, name: String): DataFrame =
    readVersion(table, tagVersion(table, name))

  def dropTag(table: String, name: String): Unit = {
    val p = refPath(table, name)
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, false); () }
  }

  /** All (tag, version) pairs, sorted by tag name. */
  def tags(table: String): Seq[(String, Long)] = {
    val dir = new Path(tableDir(table), "_refs")
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).filterNot(_.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName -> {
        val in = f.open(s.getPath)
        try scala.io.Source.fromInputStream(in).mkString.trim.toLong
        finally in.close()
      }).toSeq.sortBy(_._1)
  }

  // ----------------------------------------------------- table statistics

  /** ANALYZE: per-column statistics of the CURRENT snapshot, stored as a
    * side file `_stats/<version>.json` (the Iceberg ANALYZE/Puffin shape:
    * stats belong to a SNAPSHOT — they are never carried forward, and
    * `$stats` reports which snapshot they describe, so a reader sees
    * staleness instead of trusting silently). Per column: null count,
    * NDV, and the count of the most frequent non-null value (maxFreq).
    * Exact COUNT(DISTINCT) per column is a full-width expand at
    * scale, so NDV is the deterministic KMV estimate
    * ([[graft.ext.Sketches.kmvDistinct]], k=256) — exact below 256
    * distinct values, engine-replayable above. maxFreq is exact (one
    * count-per-key shuffle per column, same cost class as the NDV pass)
    * and exists for SAFETY: `selectivity(col = v) <= maxFreq/rows` holds
    * for EVERY literal — the 1/NDV heuristic under-estimates a skewed
    * hot key by orders of magnitude, and an under-estimate is the
    * dangerous direction (it green-lights broadcasting something huge).
    * Null counts for every column ride ONE aggregate pass; NDV/maxFreq
    * are column-pruned single-column shuffles (ANALYZE is offline
    * maintenance; job count is schema-width-bounded, each job reads one
    * column). Reads go through [[read]], so merge-on-read deletes are
    * honored. Returns the analyzed snapshot version. */
  def analyzeTable(table: String, columns: Seq[String] = Seq.empty): Long = {
    require(exists(table), s"analyzeTable: table $table does not exist")
    val m = manifests(table).maxBy(_.version)
    val df = read(table)
    val all = df.schema.fieldNames.toSeq
    val cols = if (columns.isEmpty) all else {
      val missing = columns.filterNot(c => all.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty, s"analyzeTable: no such column(s) $missing")
      columns
    }
    import org.apache.spark.sql.functions.{coalesce, count, sum, when}
    val one = functions.lit(1)
    // coalesce: sum over zero rows is SQL NULL; a delete-all'd table must
    // still ANALYZE to zeros rather than NPE on getLong.
    val nullAggs = cols.map(c =>
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), functions.lit(0L))
        .as(s"__n_$c")) :+
      count(one).as("__rows")
    val nr = df.agg(nullAggs.head, nullAggs.tail: _*).head()
    val rowCount = nr.getLong(cols.size)
    val stats: Seq[(String, Long, Long, Long, Seq[Long])] =
      cols.zipWithIndex.map { case (c, i) =>
        val nulls = nr.getLong(i)
        val (ndv, maxFreq, regs) =
          if (nulls == rowCount) (0L, 0L, Seq.empty[Long])
          else {
            // bottom-k KMV REGISTERS (distinct 48-bit md5-prefix hashes)
            // — persisted so a later incremental ANALYZE can merge a
            // delta's registers instead of rescanning history; the
            // estimate formula is kmvDistinct's exactly
            val rg = kmvRegisters(df.filter(col(c).isNotNull), c)
            val mf = df.filter(col(c).isNotNull).groupBy(col(c)).count()
              .agg(functions.max(col("count"))).head().getLong(0)
            (kmvEstimate(rg), mf, rg)
          }
        (c, nulls, ndv, maxFreq, regs)
      }
    writeStats(table, m.version, rowCount, stats)
    m.version
  }

  private val KmvK = 256

  /** The ≤k smallest distinct 48-bit md5-prefix hashes of `c` — the
    * mergeable KMV register set ([[graft.ext.Sketches.kmvDistinct]]'s
    * hash exactly). */
  private def kmvRegisters(df: DataFrame, c: String): Seq[Long] =
    df.select(functions.conv(functions.substring(
          functions.md5(col(c).cast("string")), 1, 12), 16, 10)
        .cast("long").as("__h"))
      .distinct().orderBy(col("__h")).limit(KmvK)
      .collect().map(_.getLong(0)).toSeq

  /** kmvDistinct's estimator over a register set: exact count below k,
    * `(k-1)·2^48 div kthMin` at k. */
  private def kmvEstimate(regs: Seq[Long]): Long =
    if (regs.size < KmvK) regs.size.toLong
    else (KmvK - 1).toLong * (1L << 48) / math.max(regs.max, 1L)

  private def writeStats(table: String, version: Long, rowCount: Long,
      stats: Seq[(String, Long, Long, Long, Seq[Long])]): Unit = {
    val json = stats.map { case (c, nulls, ndv, maxFreq, regs) =>
      val kmv = if (regs.isEmpty) ""
        else regs.mkString(""","kmv":[""", ",", "]")
      s"""${jstr(c)}:{"nulls":$nulls,"ndv":$ndv,"maxFreq":$maxFreq$kmv}"""
    }.mkString(
      s"""{"version":$version,"timestampMs":${System.currentTimeMillis()},""" +
        s""""rowCount":$rowCount,"columns":{""", ",", "}}")
    val dir = new Path(tableDir(table), "_stats")
    fs(dir).mkdirs(dir)
    atomicWrite(new Path(dir, s"$version.json"), json)
  }

  /** Incremental ANALYZE — O(delta) stats refresh after appends: reads
    * ONLY the files added since the last analyzed snapshot and MERGES
    * into the stored statistics. Sound merges per statistic: null counts
    * and row counts add exactly; NDV merges exactly because KMV
    * registers do — the bottom-k of (bottom-k(old) ∪ bottom-k(delta))
    * IS the bottom-k of the union (any hash among the k smallest overall
    * is among the k smallest of its side), so the estimate equals a full
    * recompute's bit-for-bit; maxFreq merges to the SAFE upper bound
    * old+delta (a value's true frequency is ≤ the sum of its per-part
    * maxima — overestimating frequency can only make the planner more
    * conservative, never a wrong broadcast). Falls back to a full
    * [[analyzeTable]] whenever exactness is not provable: no prior
    * stats, prior stats without registers or for a different column
    * set, the analyzed snapshot's manifest expired, any base file
    * REMOVED since (rewrite/compaction/CoW), or a changed merge-on-read
    * delete overlay (masked rows shift every count). */
  def analyzeIncremental(table: String, columns: Seq[String] = Seq.empty): Long = {
    require(exists(table), s"analyzeIncremental: table $table does not exist")
    val m = manifests(table).maxBy(_.version)
    val prior = readStatsRaw(table)
    val baseM = prior.flatMap(p => manifests(table).find(_.version == p._1))
    (prior, baseM) match {
      case (Some((pv, pRows, pCols)), Some(bm)) if pv <= m.version =>
        val basePaths = bm.files.map(_.path).toSet
        val curPaths = m.files.map(_.path).toSet
        val requested =
          if (columns.isEmpty) schemaOf(m.schemaJson).fieldNames.toSeq else columns
        val mergeable =
          basePaths.subsetOf(curPaths) &&
          m.deleteFiles.map(d => (d.path, d.seq)).toSet ==
            bm.deleteFiles.map(d => (d.path, d.seq)).toSet &&
          requested.forall(c => pCols.contains(c)) &&
          // all-null columns stored no registers; they merge fine (prior
          // contributes nothing) — only a non-empty prior NDV without
          // registers (a pre-register stats file) blocks merging
          pCols.forall { case (_, (_, ndv, _, regs)) =>
            regs.nonEmpty || ndv == 0L }
        if (!mergeable) return analyzeTable(table, columns)
        val delta = m.files.filterNot(f => basePaths.contains(f.path))
        if (delta.isEmpty) {
          writeStats(table, m.version, pRows,
            requested.map { c =>
              val (nulls, ndv, mf, regs) = pCols(c)
              (c, nulls, ndv, mf, regs) })
          return m.version
        }
        val ddf = readManifest(table,
          m.copy(files = delta, deleteFiles = Seq.empty))
        import org.apache.spark.sql.functions.{coalesce, count, sum, when}
        val nullAggs = requested.map(c =>
          coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), functions.lit(0L))
            .as(s"__n_$c")) :+ count(functions.lit(1)).as("__rows")
        val nr = ddf.agg(nullAggs.head, nullAggs.tail: _*).head()
        val dRows = nr.getLong(requested.size)
        val merged = requested.zipWithIndex.map { case (c, i) =>
          val (pNulls, _, pMf, pRegs) = pCols(c)
          val dNulls = nr.getLong(i)
          val nonNull = ddf.filter(col(c).isNotNull)
          val (dRegs, dMf) =
            if (dNulls == dRows) (Seq.empty[Long], 0L)
            else (kmvRegisters(nonNull, c),
              nonNull.groupBy(col(c)).count()
                .agg(functions.max(col("count"))).head().getLong(0))
          val regs = (pRegs ++ dRegs).distinct.sorted.take(KmvK)
          (c, pNulls + dNulls, kmvEstimate(regs), pMf + dMf, regs)
        }
        writeStats(table, m.version, pRows + dRows, merged)
        m.version
      case _ => analyzeTable(table, columns)
    }
  }

  /** Raw stored stats incl. KMV registers:
    * (version, rowCount, col -> (nulls, ndv, maxFreq, registers)). */
  private def readStatsRaw(table: String)
      : Option[(Long, Long, Map[String, (Long, Long, Long, Seq[Long])])] = {
    val cur = currentVersion(table)
    val dir = new Path(tableDir(table), "_stats")
    val f = fs(dir)
    if (!f.exists(dir)) return None
    val versions = f.listStatus(dir)
      .map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).flatMap(n => scala.util.Try(n.toLong).toOption)
      .filter(_ <= cur)
    if (versions.isEmpty) return None
    val v = versions.max
    val in = f.open(new Path(dir, s"$v.json"))
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val root = mapper.readTree(txt)
    val out = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Seq[Long])]
    val it = root.get("columns").fields()
    while (it.hasNext) {
      val e = it.next()
      val mf = Option(e.getValue.get("maxFreq")).map(_.asLong()).getOrElse(0L)
      val regs = Option(e.getValue.get("kmv")).map { a =>
        val b = ArrayBuffer.empty[Long]; a.forEach(x => b += x.asLong()); b.toSeq
      }.getOrElse(Seq.empty)
      out(e.getKey) = (e.getValue.get("nulls").asLong(),
        e.getValue.get("ndv").asLong(), mf, regs)
    }
    Some((root.get("version").asLong(), root.get("rowCount").asLong(),
      out.toMap))
  }

  /** The newest recorded stats at or below the current version, or None.
    * Returns (analyzedVersion, rowCount, per-column (name, nulls, ndv,
    * maxFreq)); maxFreq is 0 for stats files written before it existed
    * (0 = unknown, never "no rows"). */
  def columnStats(table: String)
      : Option[(Long, Long, Seq[(String, Long, Long, Long)])] = {
    val cur = currentVersion(table)
    val dir = new Path(tableDir(table), "_stats")
    val f = fs(dir)
    if (!f.exists(dir)) return None
    val versions = f.listStatus(dir)
      .map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).flatMap(n => scala.util.Try(n.toLong).toOption)
      .filter(_ <= cur)
    if (versions.isEmpty) return None
    val v = versions.max
    val in = f.open(new Path(dir, s"$v.json"))
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val root = mapper.readTree(txt)
    val colsNode = root.get("columns")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    val it = colsNode.fields()
    while (it.hasNext) {
      val e = it.next()
      val mf = Option(e.getValue.get("maxFreq")).map(_.asLong()).getOrElse(0L)
      out += ((e.getKey, e.getValue.get("nulls").asLong(),
        e.getValue.get("ndv").asLong(), mf))
    }
    Some((root.get("version").asLong(), root.get("rowCount").asLong(),
      out.toSeq))
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // ------------------------------------------------- write-audit-publish

  /** Stage an append as an UNPUBLISHED candidate snapshot (Iceberg's
    * write-audit-publish pattern): the data files are written and
    * footer-stats harvested exactly like a real append, but into a
    * `stage-<id>/` directory with a side manifest under `_staged/` —
    * readers of the table see nothing, `_current` does not move, and no
    * version slot is consumed (a staged snapshot can never block or leak
    * into the main lineage). The auditor reads it back with
    * [[readStaged]], then [[publishStaged]] folds it into the table as a
    * normal optimistic commit — or [[abandonStaged]] deletes it.
    * Returns the stage id. */
  def stageAppend(table: String, df: DataFrame): String = {
    require(exists(table), s"stageAppend: table $table does not exist")
    val m = manifests(table).maxBy(_.version)
    require(m.deleteFiles.isEmpty,
      s"stageAppend: $table has merge-on-read delete files; staged paths " +
        "carry no version sequence, so compact the table first")
    val id = java.util.UUID.randomUUID().toString.take(8)
    val entries = writeDataFiles(new Path(tableDir(table), s"stage-$id"), s"stage-$id",
      checked(alignTo(df, schemaOf(m.schemaJson)), m.constraints), m.partitionBy,
      Seq.empty, m.columnMap.toMap)
    // The staged manifest reuses the snapshot JSON shape (version 0 =
    // "not a version") and records ONLY the new entries: publish composes
    // them with whatever the table's files are AT PUBLISH time, so an
    // append-shaped stage stays publishable even if main advanced
    // (Iceberg fast-append cherry-pick semantics).
    writeManifestAt(stagedPath(table, id), Manifest(0L,
      System.currentTimeMillis(), "wap_stage", entries, m.schemaJson, m.partitionBy,
      columnMap = m.columnMap))
    id
  }

  private def stagedPath(table: String, id: String): Path =
    new Path(new Path(tableDir(table), "_staged"), s"$id.json")

  private def stagedManifest(table: String, id: String): Manifest = {
    val p = stagedPath(table, id)
    val f = fs(p)
    require(f.exists(p), s"table $table has no staged snapshot $id")
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    parseManifest(txt, table)
  }

  /** Audit read: the staged rows only (what the candidate ADDS). */
  def readStaged(table: String, stageId: String): DataFrame =
    readManifest(table, stagedManifest(table, stageId))

  /** Publish a staged snapshot: commit current-files ∪ staged-files as the
    * next version. Append-shaped, so an optimistic-commit conflict retries
    * against the advanced snapshot like [[append]]. The staged side
    * manifest is removed on success; the data files are referenced
    * in place (metadata-only publish — no byte of data moves). Publishing
    * is refused if the table's schema changed since the stage was written
    * (the staged files were aligned to the old schema — re-stage). */
  def publishStaged(table: String, stageId: String): Long = {
    val st = stagedManifest(table, stageId)
    TableStore.retryOnConflict(3) {
      val m = manifests(table).maxBy(_.version)
      require(m.schemaJson == st.schemaJson,
        s"table $table schema changed since stage $stageId was written; " +
          "abandon and re-stage")
      require(m.deleteFiles.isEmpty,
        s"table $table gained merge-on-read delete files since stage " +
          s"$stageId; staged paths carry no version sequence — compact, " +
          "then publish")
      val v = commitFiles(table, m.files ++ st.files, None, "wap_publish",
        baseVersion = m.version)
      fs(stagedPath(table, stageId)).delete(stagedPath(table, stageId), false)
      v
    }
  }

  /** Drop a staged snapshot: delete its side manifest and data files. */
  def abandonStaged(table: String, stageId: String): Unit = {
    val p = stagedPath(table, stageId)
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, false); () }
    val dir = new Path(tableDir(table), s"stage-$stageId")
    if (f.exists(dir)) { f.delete(dir, true); () }
  }

  /** Staged snapshot ids currently on disk (audit inbox). */
  def stagedIds(table: String): Seq[String] = {
    val dir = new Path(tableDir(table), "_staged")
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.endsWith(".json") => n.stripSuffix(".json") }
      .toSeq.sorted
  }

  // ------------------------------------------------ multi-table transactions

  private def txnDir = new Path(warehouse, "_txns")
  private def txnIntentPath(id: String) = new Path(txnDir, s"$id.json")
  private def txnStagedPath(table: String, id: String, k: Int): Path =
    new Path(new Path(tableDir(table), "_txnstaged"), s"$id-$k.json")

  /** Begin an all-or-nothing MULTI-TABLE transaction — the classic
    * single-table-format gap (an Iceberg/Delta commit is atomic per
    * table; cross-table atomicity needs a transactional catalog à la
    * Nessie). Protocol (write-ahead intent; each apply is an ordinary
    * optimistic commit):
    *
    *  1. STAGE: each op writes its data files + a side manifest under
    *     the table's `_txnstaged/` — no version slot consumed, readers
    *     see nothing (the WAP invisibility contract).
    *  2. COMMIT POINT: ONE create-exclusive write of the intent file
    *     `<warehouse>/_txns/<id>.json` listing every op. Durability is
    *     all-or-nothing at this single atomic create: crash before it →
    *     the transaction never happened (staged files are inert side
    *     data, [[Transaction.abort]]/janitors reclaim them); crash after
    *     → roll-FORWARD is guaranteed.
    *  3. APPLY: each op folds its staged files into its table as a
    *     normal metadata-only commit whose operation string carries the
    *     idempotency marker `txn:<id>:<k>`; then the intent is removed.
    *     [[recoverTransactions]] re-drives step 3 for any intent found
    *     on disk — re-application is idempotent (applied ops are
    *     detected by their marker in the table's manifest history, the
    *     same replay guard as streaming's `lastStreamEpoch`).
    *
    * Visibility caveat, stated honestly: between the commit point and
    * the last pointer swap a reader can observe table A advanced while
    * table B is not yet (read skew). The guarantee here is atomic
    * DURABILITY — no crash, retry, or recovery ordering can make a
    * partial transaction permanent — which is exactly the property the
    * per-table formats lack. Snapshot-isolated cross-table READS would
    * additionally need a single catalog commit log. */
  def beginTransaction(): Transaction = {
    recoverTransactions()
    new Transaction()
  }

  final class Transaction private[core] () {
    val id: String = java.util.UUID.randomUUID().toString.take(12)
    private case class Op(k: Int, table: String, shape: String)
    private val ops = ArrayBuffer[Op]()
    private var closed = false

    /** Stage an append to an existing table (schema-aligned like
      * [[stageAppend]], CHECK constraints enforced in the write job). */
    def stageAppend(table: String, df: DataFrame): this.type = {
      require(!closed, "transaction already committed or aborted")
      require(exists(table), s"txn stageAppend: table $table does not exist")
      val m = manifests(table).maxBy(_.version)
      require(m.deleteFiles.isEmpty,
        s"txn stageAppend: $table has merge-on-read delete files; staged " +
          "paths carry no version sequence, so compact the table first")
      stage(table, checked(alignTo(df, schemaOf(m.schemaJson)), m.constraints),
        "append", m.schemaJson, m.partitionBy)
    }

    /** Stage a full-snapshot replace (CTAS if the table does not exist,
      * overwrite otherwise — existing CHECK constraints are enforced on
      * the new rows and carried). */
    def stageOverwrite(table: String, df: DataFrame,
        partitionBy: Seq[String] = Seq.empty): this.type = {
      require(!closed, "transaction already committed or aborted")
      stage(table, checked(df, checkConstraints(table)), "overwrite",
        df.schema.json, partitionBy)
    }

    private def stage(table: String, df: DataFrame, shape: String,
        schemaJson: String, partitionBy: Seq[String]): this.type = {
      val k = ops.size
      val m = head(table)
      val entries = writeDataFiles(new Path(tableDir(table), s"txn-$id-$k"),
        s"txn-$id-$k", applyWriteOrder(m.writeOrder, df, partitionBy),
        partitionBy, Seq.empty, m.columnMap.toMap)
      writeManifestAt(txnStagedPath(table, id, k),
        Manifest(0L, System.currentTimeMillis(), s"txn_$shape", entries,
          schemaJson, partitionBy))
      ops += Op(k, table, shape)
      this
    }

    /** Stage an equality-delete (merge-on-read) against an existing
      * table: the distinct key tuples are written at stage time; apply
      * renames them into the applied version's deletes dir and layers
      * them as delete entries at that commit's own sequence — the atomic
      * cross-table "purge these keys everywhere" shape (one intent file
      * covers every table the keys appear in). */
    def stageDeleteKeys(table: String, keys: DataFrame,
        keyCols: Seq[String]): this.type = {
      require(!closed, "transaction already committed or aborted")
      require(exists(table), s"txn stageDeleteKeys: table $table does not exist")
      require(keyCols.nonEmpty, "stageDeleteKeys needs at least one key column")
      val m = manifests(table).maxBy(_.version)
      require(m.files.forall(_.path.startsWith("v=")),
        s"txn stageDeleteKeys needs version-sequenced data files; compact " +
          s"$table first")
      require(m.deleteFiles.filterNot(TableStore.isPositional)
          .forall(_.keyCols == keyCols),
        s"txn stageDeleteKeys: existing delete files on $table use keys " +
          s"${m.deleteFiles.map(_.keyCols).distinct}; compact first")
      val existing = schemaOf(m.schemaJson)
      keyCols.foreach(kc => require(existing.fieldNames.contains(kc),
        s"txn stageDeleteKeys: key column $kc not in $table's schema"))
      val k = ops.size
      val dir = new Path(tableDir(table), s"txn-$id-$k")
      keys.select(keyCols.map(c =>
        col(c).cast(existing(existing.fieldIndex(c)).dataType).as(c)): _*)
        .distinct().write.mode("overwrite").parquet(dir.toString)
      // entries carry bare file names + seq 0; apply re-paths them under
      // the applied version and stamps its sequence
      writeManifestAt(txnStagedPath(table, id, k),
        Manifest(0L, System.currentTimeMillis(), "txn_deletekeys", Seq.empty,
          m.schemaJson, deleteFiles = deleteEntries(dir, "", keyCols, 0L)))
      ops += Op(k, table, "deletekeys")
      this
    }

    /** The commit point: one atomic create-exclusive intent write, then
      * roll-forward application. Returns table → new version. */
    def commit(): Map[String, Long] = {
      require(!closed, "transaction already committed or aborted")
      require(ops.nonEmpty, "empty transaction")
      closed = true
      val opsJson = ops.map(o =>
        s"""{"k":${o.k},"table":${jsonStr(o.table)},"shape":${jsonStr(o.shape)}}""")
        .mkString("[", ",", "]")
      atomicWriteExclusive(txnIntentPath(id),
        s"""{"id":${jsonStr(id)},"ops":$opsJson}""")
      applyTxn(id, ops.map(o => (o.k, o.table, o.shape)).toSeq)
    }

    /** Drop all staged data and side manifests. Only valid before the
      * commit point (after it, the transaction is durable and can only
      * roll forward). */
    def abort(): Unit = {
      require(!closed, "transaction already committed or aborted")
      closed = true
      ops.foreach { o =>
        val sp = txnStagedPath(o.table, id, o.k)
        val f = fs(sp)
        if (f.exists(sp)) { f.delete(sp, false); () }
        val dd = new Path(tableDir(o.table), s"txn-$id-${o.k}")
        if (f.exists(dd)) { f.delete(dd, true); () }
      }
    }
  }

  /** Roll a committed intent forward: apply every op not yet applied (the
    * `txn:<id>:<k>` operation marker in the table's manifest history is
    * the replay guard), then remove the intent. Ops on the same table
    * compose in declaration order — each apply reads the table state its
    * predecessor left. */
  private def applyTxn(id: String,
      ops: Seq[(Int, String, String)]): Map[String, Long] = {
    val out = scala.collection.mutable.Map[String, Long]()
    ops.foreach { case (k, table, shape) =>
      val marker = s"txn:$id:$k"
      val sp = txnStagedPath(table, id, k)
      manifests(table).find(_.operation.endsWith(marker)) match {
        case Some(m) =>
          // applied before a crash — re-swap the pointer (idempotent;
          // covers a crash between writeManifest and swapPointer)
          swapPointer(table, m.version)
          out(table) = m.version
        case None =>
          val f = fs(sp)
          require(f.exists(sp),
            s"txn $id op $k on $table: staged manifest missing and no " +
              "applied marker — staged data was externally removed")
          val in = f.open(sp)
          val st = parseManifest(
            try scala.io.Source.fromInputStream(in).mkString finally in.close(),
            table)
          val m = head(table)
          val v = m.version + 1
          out(table) = publish(table, shape match {
            case "append" =>
              require(m.schemaJson == st.schemaJson,
                s"txn $id: $table schema changed since staging")
              require(m.deleteFiles.isEmpty,
                s"txn $id: $table gained merge-on-read deletes since staging")
              successor(m, s"txn_append $marker", m.files, st.files)
            case "deletekeys" =>
              require(m.schemaJson == st.schemaJson,
                s"txn $id: $table schema changed since staging")
              val keyCols = st.deleteFiles.headOption.map(_.keyCols)
                .getOrElse(Seq.empty)
              require(m.deleteFiles.filterNot(TableStore.isPositional)
                  .forall(_.keyCols == keyCols),
                s"txn $id: $table gained delete files with different keys " +
                  "since staging; compact first")
              // sequence assignment = one dir rename into the applied
              // version (metadata-only; deterministic target so a crash
              // between rename and manifest write re-applies cleanly —
              // recovery recomputes the same v unless a rival committed)
              val src = new Path(tableDir(table), s"txn-$id-$k")
              val dst = new Path(versionDir(table, v), s"deletes-txn-$id-$k")
              val fr = fs(src)
              if (fr.exists(src)) {
                fr.mkdirs(versionDir(table, v))
                require(fr.rename(src, dst),
                  s"txn $id: rename $src -> $dst failed")
              } else require(fr.exists(dst),
                s"txn $id op $k on $table: staged delete keys missing")
              val rel = s"v=$v/deletes-txn-$id-$k"
              val dels = st.deleteFiles.map(e =>
                e.copy(path = s"$rel/${e.path}", seq = v))
              m.next(s"txn_deletekeys $marker").copy(deleteFiles = m.deleteFiles ++ dels)
            case _ =>
              successor(m, s"txn_overwrite $marker", Seq.empty, st.files)
                .copy(schemaJson = st.schemaJson, partitionBy = st.partitionBy)
          })
      }
      val f2 = fs(sp)
      if (f2.exists(sp)) { f2.delete(sp, false); () }
    }
    val fi = fs(txnIntentPath(id))
    if (fi.exists(txnIntentPath(id))) { fi.delete(txnIntentPath(id), false); () }
    out.toMap
  }

  /** Writer-side recovery: roll every intent found in `_txns/` forward.
    * Run by [[beginTransaction]] and callable directly after a crash.
    * Returns the number of transactions completed. */
  def recoverTransactions(): Int = {
    val f = fs(txnDir)
    if (!f.exists(txnDir)) return 0
    var n = 0
    f.listStatus(txnDir).filter(_.getPath.getName.endsWith(".json")).foreach { s =>
      val in = f.open(s.getPath)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val node = mapper.readTree(txt)
      val id = node.get("id").asText()
      val ops = ArrayBuffer[(Int, String, String)]()
      node.get("ops").forEach(o => ops += ((o.get("k").asInt(),
        o.get("table").asText(), o.get("shape").asText())))
      applyTxn(id, ops.toSeq)
      n += 1
    }
    n
  }

  /** Snapshot-isolated multi-table READ cut — closes the read-skew window
    * the per-table pointer swaps leave open (a reader catching table A
    * before a transaction's apply and table B after it would see a mixed
    * state). Protocol: read every pointer, drive [[recoverTransactions]]
    * (completing any partially-applied transaction), read every pointer
    * again; a stable double-read is a consistent cut w.r.t. transactional
    * writers. Why: a transaction's ops apply strictly AFTER its intent
    * write — if some op landed between our two pointer reads the second
    * read differs (retry), and if a transaction was mid-apply at the
    * first read its intent was live at the recovery step, which finished
    * it, again changing the second read. A cut that survives both checks
    * contains either all or none of every transaction's ops. Retries are
    * bounded; under relentless churn the last cut is returned — the
    * documented fallback, equivalent to today's per-table behavior.
    * Read the cut with [[readVersion]] (or SQL `VERSION AS OF`). */
  def consistentVersions(tables: Seq[String]): Map[String, Long] = {
    val names = tables.distinct
    var attempt = 0
    var cut = names.map(t => t -> currentVersion(t)).toMap
    while (attempt < 16) {
      recoverTransactions()
      val again = names.map(t => t -> currentVersion(t)).toMap
      if (again == cut) return cut
      cut = again
      attempt += 1
    }
    cut
  }

  /** Zero-copy table clone (Delta's SHALLOW CLONE / Iceberg's `snapshot`
    * procedure): the clone's first snapshot references the source's
    * current data files by ABSOLUTE URI — one manifest write at any
    * source size, no byte copied. The clone then evolves independently
    * (appends, merges, schema changes, its own constraints); source
    * files are borrowed-not-owned, so the clone's maintenance
    * (expiry, orphan GC) never deletes them — exactly the `add_files`
    * ownership rule. The source's MoR overlay must be materialized
    * first (`compact`): a clone referencing live delete files would
    * couple the two tables' maintenance. */
  def cloneTable(source: String, target: String): Long = {
    require(exists(source), s"cloneTable: source $source does not exist")
    require(!exists(target), s"cloneTable: target $target already exists")
    val m = manifests(source).maxBy(_.version)
    require(m.deleteFiles.isEmpty,
      s"cloneTable: $source carries merge-on-read delete files; compact " +
        "it first so the clone is self-contained")
    val srcDir = tableDir(source)
    val f = fs(srcDir)
    val files = m.files.map { fe =>
      if (TableStore.isExternalPath(fe.path)) fe // already absolute
      else fe.copy(path =
        f.makeQualified(new Path(srcDir, fe.path)).toString)
    }
    // the source snapshot, re-based as the target's (empty) version 0
    publish(target, m.copy(version = 0L).next("clone").copy(files = files))
  }

  // ---------------------------------------------------------- branches

  /** Writable branch refs (Iceberg's snapshot branching): a branch forks
    * from a main snapshot and accumulates its OWN append chain in a side
    * manifest namespace (`_branches/<name>/<k>.json`, data under
    * `branch-<name>/v=<k>/`) without ever moving the main pointer — the
    * multi-commit form of write-audit-publish (a staged snapshot is one
    * commit; a branch is a publishable CHAIN). `fastForward` publishes
    * the chain as real main versions — metadata-only, files referenced
    * in place — and requires main to still sit at the fork base
    * (Iceberg's `fast_forward` ancestry rule); a diverged main refuses.
    * Branch data files are invisible to orphan GC while the branch
    * lives, and [[expireSnapshots]] counts live branches' files as
    * referenced, so expiring main history never breaks a branch. */
  def createBranch(table: String, name: String,
      fromVersion: Long = -1L): Unit = {
    require(exists(table), s"createBranch: table $table does not exist")
    require(name.matches("[A-Za-z0-9._-]+"), s"illegal branch name $name")
    val base = if (fromVersion < 0) currentVersion(table) else fromVersion
    val m = manifests(table).find(_.version == base).getOrElse(
      throw new IllegalArgumentException(s"$table has no version $base"))
    require(m.deleteFiles.isEmpty,
      s"createBranch: $table@$base has merge-on-read delete files; branch " +
        "data paths carry no version sequence — compact first")
    val dir = branchDir(table, name)
    val f = fs(dir)
    require(!f.exists(dir), s"branch $name already exists on $table")
    f.mkdirs(dir)
    // branch manifest 0 records the fork point: same content as the base
    // snapshot, base version encoded in the operation tag
    writeManifestAt(branchManifestPath(table, name, 0L),
      m.copy(version = 0L, operation = s"branch_base:$base",
        streamEpoch = None))
  }

  private def branchDir(table: String, name: String): Path =
    new Path(new Path(tableDir(table), "_branches"), name)

  private def branchManifestPath(table: String, name: String, k: Long): Path =
    new Path(branchDir(table, name), s"$k.json")

  private def branchManifests(table: String, name: String): Seq[Manifest] = {
    val dir = branchDir(table, name)
    val f = fs(dir)
    require(f.exists(dir), s"table $table has no branch $name")
    f.listStatus(dir).filter(_.getPath.getName.endsWith(".json")).toSeq
      .map { s =>
        val in = f.open(s.getPath)
        try parseManifest(scala.io.Source.fromInputStream(in).mkString, table)
        finally in.close()
      }.sortBy(_.version)
  }

  /** (branch name, commits ahead of the fork) for every live branch. */
  def branches(table: String): Seq[(String, Long)] = {
    val root = new Path(tableDir(table), "_branches")
    val f = fs(root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted
      .map(n => n -> branchManifests(table, n).map(_.version).max)
  }

  /** Read the branch head (fork content + the branch's own appends). */
  def readBranch(table: String, name: String): DataFrame =
    readManifest(table, branchManifests(table, name).maxBy(_.version))

  /** Append to a branch: a new side manifest referencing the head's files
    * plus new data under `branch-<name>/v=<k>/`. Main is untouched.
    * Fork-time CHECK constraints are enforced per row like main writes. */
  def appendToBranch(table: String, name: String, df: DataFrame): Long = {
    val ms = branchManifests(table, name)
    val tip = ms.maxBy(_.version)
    val k = tip.version + 1
    val rel = s"branch-$name/v=$k/w-${java.util.UUID.randomUUID().toString.take(8)}"
    val entries = writeDataFiles(new Path(tableDir(table), rel), rel,
      checked(alignTo(df, schemaOf(tip.schemaJson)), tip.constraints),
      tip.partitionBy, Seq.empty, tip.columnMap.toMap)
    writeManifestAt(branchManifestPath(table, name, k),
      tip.next("append").copy(files = tip.files ++ entries))
    k
  }

  /** Publish the branch's commits as real main versions (metadata-only;
    * every data file is referenced in place). Requires main to still sit
    * at the fork base — a diverged main refuses, like Iceberg's
    * `fast_forward`. The branch ref is removed on success; its data
    * files live on, referenced by the published manifests. */
  def fastForward(table: String, name: String): Long = {
    val ms = branchManifests(table, name)
    val baseTag = ms.find(_.version == 0L).getOrElse(
      throw new IllegalStateException(s"branch $name has no fork record"))
    val base = baseTag.operation.stripPrefix("branch_base:").toLong
    val cur = currentVersion(table)
    require(cur == base,
      s"main advanced past fork base $base (now $cur); branch $name is " +
        "not fast-forwardable — re-create it from the current snapshot")
    // each published commit is pinned to its predecessor
    val v = ms.filter(_.version > 0L).sortBy(_.version).foldLeft(base) { (b, bm) =>
      commitFiles(table, bm.files, None, "branch_ff", baseVersion = b)
    }
    fs(branchDir(table, name)).delete(branchDir(table, name), true)
    v
  }

  /** Drop a branch: its manifests AND its own data files (never the
    * referenced main files). */
  def dropBranch(table: String, name: String): Unit = {
    val f = fs(tableDir(table))
    val d = branchDir(table, name)
    if (f.exists(d)) { f.delete(d, true); () }
    val data = new Path(tableDir(table), s"branch-$name")
    if (f.exists(data)) { f.delete(data, true); () }
  }

  /** DROP TABLE incl. file cleanup (A17 —
    * reference/src/data_curation/glue_jobs/pyspark_functions.py:348-355). */
  def drop(table: String): Unit = {
    val d = tableDir(table)
    val f = fs(d)
    if (f.exists(d)) { f.delete(d, true); () }
  }

  /** Rename (ALTER TABLE … RENAME TO): one directory rename — metadata
    * AND data move together because every internal file path in every
    * manifest is table-RELATIVE (`v=N/…`), so the whole history,
    * branches, staged snapshots, and the MoR overlay survive unchanged.
    * Externally-adopted absolute paths (`add_files`, shallow clones) are
    * untouched, which is exactly right — the table borrows those files,
    * it does not own them. Persisted VIEWS store SQL text and are NOT
    * rewritten (Iceberg's limitation too): a view over the old name
    * breaks until recreated. */
  def renameTable(from: String, to: String): Unit = {
    require(exists(from), s"rename: table $from does not exist")
    require(from != to, "rename: source and target are the same")
    val src = tableDir(from)
    val dst = tableDir(to)
    val f = fs(src)
    require(!f.exists(dst), s"rename: target $to already exists")
    require(f.rename(src, dst), s"rename: filesystem rename $from -> $to failed")
  }

  /** Expire all snapshots except the last `keepLast` (housekeeping; keeps
    * time travel bounded like Iceberg's `expire_snapshots`). Data files
    * still referenced by a surviving snapshot are NOT deleted — after
    * copy-on-write commits a snapshot may share files with older ones.
    * Tagged versions ([[createTag]]) are always retained, as in Iceberg:
    * a release tag must stay readable no matter the retention policy.
    * `olderThanMs`: additionally retain every snapshot committed at or
    * after this timestamp (Iceberg's `older_than` retention axis — time
    * AND count compose; the newest `keepLast` survive regardless). */
  def expireSnapshots(table: String, keepLast: Int = 1,
      olderThanMs: Long = Long.MaxValue): Unit = {
    val ms = manifests(table).sortBy(-_.version)
    val tagged = tags(table).map(_._2).toSet
    val recent = ms.take(keepLast).map(_.version).toSet
    val (kept, dropped) = ms.partition(m =>
      recent.contains(m.version) || tagged.contains(m.version) ||
        m.timestampMs >= olderThanMs)
    // live branches reference main files from their fork point — expiring
    // main history must never break a branch
    val branchRefs = branches(table).flatMap { case (n, _) =>
      branchManifests(table, n).flatMap(_.files.map(_.path))
    }.toSet
    val referenced = kept.flatMap(m =>
      m.files.map(_.path) ++ m.deleteFiles.map(_.path)).toSet ++ branchRefs
    dropped.foreach { m =>
      val f = fs(manifestPath(table, m.version))
      (m.files.map(_.path) ++ m.deleteFiles.map(_.path))
        // external (add_files-adopted) paths are borrowed, not owned —
        // expiry must never reach outside the table directory
        .filterNot(p => referenced.contains(p) || TableStore.isExternalPath(p))
        .foreach { p =>
          f.delete(new Path(tableDir(table), p), false)
        }
      f.delete(manifestPath(table, m.version), false)
    }
    // Segment GC: a dropped manifest may have been the last referent of a
    // shared file-list segment. Only segments referenced by NO surviving
    // manifest go, and only past a grace window — an in-flight commit
    // writes its segment BEFORE its manifest, so a fresh unreferenced
    // segment may be a commit mid-landing (the orphan-file rule).
    val segDir = new Path(new Path(tableDir(table), "_manifests"), "segments")
    val sf = fs(segDir)
    if (sf.exists(segDir)) {
      val live = manifests(table)
        .flatMap(km => manifestSegRefs(table, km.version)).map(_._1).toSet
      val grace = spark.sessionState.conf.getConfString(
        "spark.graft.manifest.segmentGcGraceMs", "600000").toLong
      val cutoff = System.currentTimeMillis() - grace
      sf.listStatus(segDir).foreach { s =>
        val rel = s"_manifests/segments/${s.getPath.getName}"
        if (!live.contains(rel) && s.getModificationTime < cutoff) {
          TableStore.segmentCache.remove(
            sf.makeQualified(s.getPath).toString)
          sf.delete(s.getPath, false)
        }
      }
    }
  }

  /** Delete data files referenced by NO manifest — the orphans of failed
    * optimistic commits, which write their data files first and lose the
    * manifest race, leaving files no snapshot (and therefore no
    * [[expireSnapshots]] run) can ever reach. Mirrors Iceberg's
    * `remove_orphan_files`: only files under version directories are
    * candidates (`_manifests`, `_current` and any checkpoint state are
    * never touched), and only files older than `olderThanMs` are deleted —
    * the age threshold is the safety margin against an IN-FLIGHT commit
    * whose data files exist but whose manifest has not landed yet (Iceberg
    * defaults to 3 days for the same reason). Returns the deleted
    * table-relative paths. */
  def removeOrphanFiles(table: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000): Seq[String] = {
    val dir = tableDir(table)
    val f = fs(dir)
    if (!f.exists(dir)) return Seq.empty
    val referenced = manifests(table).flatMap(m =>
      m.files.map(_.path) ++ m.deleteFiles.map(_.path)).toSet
    // Live write-audit-publish stages keep their files: a stage-<id>/ file
    // is an orphan only once its _staged/<id>.json side manifest is gone
    // (crashed before the manifest landed, or abandoned mid-delete).
    val liveStages = stagedIds(table).map(id => s"stage-$id").toSet
    // crashed/abandoned branch data: a branch-<name>/ file is an orphan
    // once its _branches/<name> ref is gone AND no published (fast-
    // forwarded) manifest references it
    val liveBranches = branches(table).map { case (n, _) => s"branch-$n" }.toSet
    // transaction staging: a txn-<id>-<k>/ file is live while its
    // _txnstaged side manifest exists (pending txn) or once a manifest
    // references it (applied txn data); otherwise it is a crashed
    // pre-intent transaction's leak
    val liveTxnOps = {
      val tdir = new Path(dir, "_txnstaged")
      if (!f.exists(tdir)) Set.empty[String]
      else f.listStatus(tdir).map(_.getPath.getName)
        .collect { case n if n.endsWith(".json") =>
          s"txn-${n.stripSuffix(".json")}" }.toSet
    }
    val cutoff = System.currentTimeMillis() - olderThanMs
    val base = f.getFileStatus(dir).getPath.toUri.getPath.stripSuffix("/")
    val deleted = ArrayBuffer[String]()
    val it = f.listFiles(dir, true)
    while (it.hasNext) {
      val s = it.next()
      val rel = s.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      val versionOrphan = rel.startsWith("v=") && !referenced.contains(rel)
      val stageOrphan = rel.startsWith("stage-") &&
        !liveStages.exists(st => rel.startsWith(st + "/")) &&
        !referenced.contains(rel)
      val branchOrphan = rel.startsWith("branch-") &&
        !liveBranches.exists(b => rel.startsWith(b + "/")) &&
        !referenced.contains(rel)
      val txnOrphan = rel.startsWith("txn-") &&
        !liveTxnOps.exists(t => rel.startsWith(t + "/")) &&
        !referenced.contains(rel)
      if ((versionOrphan || stageOrphan || branchOrphan || txnOrphan) &&
          s.getModificationTime < cutoff) {
        f.delete(s.getPath, false)
        deleted += rel
      }
    }
    deleted.toSeq
  }

  // ------------------------------------------------------------- internals

  def manifests(table: String): Seq[Manifest] = {
    val dir = new Path(tableDir(table), "_manifests")
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).filter(_.getPath.getName.endsWith(".json")).toSeq.map { s =>
      // Manifests are immutable once committed (create-exclusive), so a
      // (path, mtime, length)-keyed parse cache is safe and turns the
      // per-query table load into a directory listing — on a
      // daily-partitioned fact table the current manifest has thousands
      // of file entries and is re-read by every query's planning.
      val key = (f.makeQualified(s.getPath).toString,
        s.getModificationTime, s.getLen)
      TableStore.manifestCache.computeIfAbsent(key, { _ =>
        val in = f.open(s.getPath)
        val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
        if (TableStore.manifestCache.size > 4096) TableStore.manifestCache.clear()
        parseManifest(txt, table)
      })
    }.sortBy(_.version)
  }

  private def parseFileEntry(fn: com.fasterxml.jackson.databind.JsonNode)
      : FileEntry = {
    val stats = scala.collection.mutable.Map[String, ColStats]()
    val sn = fn.get("stats")
    if (sn != null) sn.properties().asScala.foreach { e =>
      stats(e.getKey) = ColStats(e.getValue.get("min").asText(),
        e.getValue.get("max").asText(), e.getValue.get("kind").asText(),
        if (e.getValue.has("nulls")) e.getValue.get("nulls").asLong()
        else -1L)
    }
    val pvals = scala.collection.mutable.Map[String, String]()
    val pn = fn.get("partition")
    if (pn != null) pn.properties().asScala.foreach(e =>
      pvals(e.getKey) = e.getValue.asText())
    FileEntry(fn.get("path").asText(), fn.get("sizeBytes").asLong(),
      if (fn.has("rowCount")) fn.get("rowCount").asLong() else 0L,
      stats.toMap, pvals.toMap)
  }

  /** Parse a persisted manifest, resolving any shared file-list segment
    * references into the in-memory `files` (always fully resolved — no
    * consumer ever sees segments). `table` locates the segment files. */
  private def parseManifest(txt: String, table: String): Manifest = {
    val n = mapper.readTree(txt)
    val files = ArrayBuffer[FileEntry]()
    segRefsOf(n).foreach { case (rel, _) => files ++= loadSegment(table, rel) }
    n.get("files").forEach(fn => files += parseFileEntry(fn))
    val spec = ArrayBuffer[String]()
    val sn = n.get("partitionBy")
    if (sn != null) sn.forEach(e => spec += e.asText())
    val dropped = ArrayBuffer[String]()
    val dn = n.get("droppedColumns")
    if (dn != null) dn.forEach(e => dropped += e.asText())
    val dels = ArrayBuffer[DeleteEntry]()
    val deln = n.get("deleteFiles")
    if (deln != null) deln.forEach { e =>
      val kcs = ArrayBuffer[String]()
      e.get("keyCols").forEach(k => kcs += k.asText())
      dels += DeleteEntry(e.get("path").asText(), kcs.toSeq,
        e.get("seq").asLong(),
        if (e.has("rowCount")) e.get("rowCount").asLong() else 0L)
    }
    val epoch =
      if (n.has("streamQueryId") && n.has("streamEpochId"))
        Some((n.get("streamQueryId").asText(), n.get("streamEpochId").asLong()))
      else None
    val cons = ArrayBuffer[(String, String)]()
    val cn = n.get("constraints")
    if (cn != null) cn.forEach(e =>
      cons += ((e.get("name").asText(), e.get("predicate").asText())))
    val worder = ArrayBuffer[String]()
    val wn = n.get("writeOrder")
    if (wn != null) wn.forEach(e => worder += e.asText())
    val cmap = ArrayBuffer[(String, String)]()
    val cmn = n.get("columnMap")
    if (cmn != null) cmn.forEach(e =>
      cmap += ((e.get("l").asText(), e.get("p").asText())))
    Manifest(n.get("version").asLong(), n.get("timestampMs").asLong(),
      n.get("operation").asText(), files.toSeq,
      n.get("schemaJson").asText(), spec.toSeq, dropped.toSeq, dels.toSeq,
      epoch, cons.toSeq, worder.toSeq, cmap.toSeq)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Serialize manifest `m` for version `m.version`, sharing the file
    * list STRUCTURALLY with the previous snapshot when this commit only
    * extends it (append, metadata-only op, MoR delete layering): the
    * shared prefix persists as references to immutable SEGMENT files
    * (under `_manifests/segments/`), and once the inherited inline tail grows
    * past `spark.graft.manifest.segmentRollThreshold` entries it rolls
    * into a new segment. An append to a million-file table then writes
    * O(new files) manifest bytes instead of re-serializing all million —
    * and storage across versions is O(total files), not
    * O(versions × files) — Iceberg's manifest-list idea, one level deep.
    * Rewrite-shaped commits (compaction, CoW merge, rollback, clone)
    * change the prefix and fall back to a plain inline file list. */
  private def writeManifest(table: String, m: Manifest): Unit = {
    val prev = manifests(table).filter(_.version < m.version).lastOption
    val (refs, inline) = prev match {
      case Some(p) if m.files.length >= p.files.length &&
          m.files.iterator.zip(p.files.iterator).forall {
            case (a, b) => (a eq b) || a == b } =>
        val prevRefs = manifestSegRefs(table, p.version)
        val covered = prevRefs.map(_._2.toLong).sum
        if (covered > p.files.length) (Seq.empty, m.files) // corrupt refs
        else {
          val prevInline = p.files.drop(covered.toInt)
          val tail = m.files.drop(p.files.length)
          if (prevInline.length >= segmentRollThreshold) {
            val rel = "_manifests/segments/" +
              java.util.UUID.randomUUID().toString.take(13) + ".json"
            writeSegment(table, rel, prevInline)
            (prevRefs :+ ((rel, prevInline.length)), tail)
          } else (prevRefs, prevInline ++ tail)
        }
      case _ => (Seq.empty[(String, Int)], m.files)
    }
    val dest = manifestPath(table, m.version)
    writeManifestAt(dest, m, refs, Some(inline))
    TableStore.segRefCache.put(fs(dest).makeQualified(dest).toString, refs)
  }

  private def segmentRollThreshold: Int = spark.sessionState.conf
    .getConfString("spark.graft.manifest.segmentRollThreshold", "1024").toInt

  private def writeSegment(table: String, rel: String,
      files: Seq[FileEntry]): Unit = {
    val p = new Path(tableDir(table), rel)
    fs(p).mkdirs(p.getParent)
    atomicWriteExclusive(p, s"""{"files":${filesJsonOf(files)}}""")
    TableStore.segmentCache.put(fs(p).makeQualified(p).toString, files)
  }

  /** The persisted segment references of an existing manifest (empty for
    * fully-inline manifests), read from the file on cache miss. */
  private def manifestSegRefs(table: String, v: Long): Seq[(String, Int)] = {
    val p = manifestPath(table, v)
    val key = fs(p).makeQualified(p).toString
    TableStore.segRefCache.computeIfAbsent(key, { _ =>
      val in = fs(p).open(p)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      if (TableStore.segRefCache.size > 8192) TableStore.segRefCache.clear()
      segRefsOf(mapper.readTree(txt))
    })
  }

  private def segRefsOf(n: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(String, Int)] = {
    val refs = ArrayBuffer[(String, Int)]()
    val sn = n.get("fileSegments")
    if (sn != null) sn.forEach(e =>
      refs += ((e.get("path").asText(), e.get("count").asInt())))
    refs.toSeq
  }

  private def loadSegment(table: String, rel: String): Seq[FileEntry] = {
    val p = new Path(tableDir(table), rel)
    val key = fs(p).makeQualified(p).toString
    TableStore.segmentCache.computeIfAbsent(key, { _ =>
      val in = fs(p).open(p)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      if (TableStore.segmentCache.size > 4096) TableStore.segmentCache.clear()
      val files = ArrayBuffer[FileEntry]()
      mapper.readTree(txt).get("files").forEach(fn => files += parseFileEntry(fn))
      files.toSeq
    })
  }

  private def filesJsonOf(files: Seq[FileEntry]): String =
    files.map { fe =>
      val statsJson = fe.stats.toSeq.sortBy(_._1).map { case (c, s) =>
        s"""${jsonStr(c)}:{"min":${jsonStr(s.min)},"max":${jsonStr(s.max)},"kind":${jsonStr(s.kind)},"nulls":${s.nulls}}"""
      }.mkString("{", ",", "}")
      val partJson =
        if (fe.partitionValues.isEmpty) ""
        else fe.partitionValues.toSeq.sortBy(_._1)
          .map { case (k, vv) => s"${jsonStr(k)}:${jsonStr(vv)}" }
          .mkString(""","partition":{""", ",", "}")
      s"""{"path":${jsonStr(fe.path)},"sizeBytes":${fe.sizeBytes},""" +
        s""""rowCount":${fe.rowCount},"stats":$statsJson$partJson}"""
    }.mkString("[", ",", "]")

  private def writeManifestAt(dest: Path, m: Manifest,
      segRefs: Seq[(String, Int)] = Seq.empty,
      inlineFiles: Option[Seq[FileEntry]] = None): Unit = {
    val filesJson = filesJsonOf(inlineFiles.getOrElse(m.files))
    val segsJson =
      if (segRefs.isEmpty) ""
      else segRefs.map { case (p, c) =>
        s"""{"path":${jsonStr(p)},"count":$c}"""
      }.mkString(""""fileSegments":[""", ",", "],")
    val specJson =
      if (m.partitionBy.isEmpty) ""
      else m.partitionBy.map(jsonStr).mkString(""","partitionBy":[""", ",", "]")
    val droppedJson =
      if (m.droppedColumns.isEmpty) ""
      else m.droppedColumns.map(jsonStr).mkString(""","droppedColumns":[""", ",", "]")
    val deleteJson =
      if (m.deleteFiles.isEmpty) ""
      else m.deleteFiles.map { d =>
        s"""{"path":${jsonStr(d.path)},"keyCols":[${d.keyCols.map(jsonStr).mkString(",")}],""" +
          s""""seq":${d.seq},"rowCount":${d.rowCount}}"""
      }.mkString(""","deleteFiles":[""", ",", "]")
    val epochJson = m.streamEpoch.map { case (qid, e) =>
      s""","streamQueryId":${jsonStr(qid)},"streamEpochId":$e"""
    }.getOrElse("")
    val consJson =
      if (m.constraints.isEmpty) ""
      else m.constraints.map { case (nm, p) =>
        s"""{"name":${jsonStr(nm)},"predicate":${jsonStr(p)}}"""
      }.mkString(""","constraints":[""", ",", "]")
    val orderJson =
      if (m.writeOrder.isEmpty) ""
      else m.writeOrder.map(jsonStr).mkString(""","writeOrder":[""", ",", "]")
    val cmapJson =
      if (m.columnMap.isEmpty) ""
      else m.columnMap.map { case (l, ph) =>
        s"""{"l":${jsonStr(l)},"p":${jsonStr(ph)}}"""
      }.mkString(""","columnMap":[""", ",", "]")
    val json =
      s"""{"version":${m.version},"timestampMs":${m.timestampMs},
         |"operation":${jsonStr(m.operation)},"rowCount":${m.rowCount},
         |$segsJson"files":$filesJson,"schemaJson":${jsonStr(m.schemaJson)}$specJson$droppedJson$deleteJson$epochJson$consJson$orderJson$cmapJson}""".stripMargin
    atomicWriteExclusive(dest, json)
  }

  /** Advance `_current` to `v`, never backwards: manifest creation is
    * create-exclusive, but pointer writes are last-write-wins — if writer A
    * commits v5 while faster writer B commits v6 and swaps first, A's later
    * swap must not regress the pointer and hide B's committed rows. The
    * pointer is re-read and the swap skipped when it already points at a
    * newer committed version (the newer writer's swap covers ours). */
  private def swapPointer(table: String, v: Long): Unit = {
    val p = currentPtr(table)
    // A torn/checksum-raced read of the cache: the manifest listing is
    // authoritative but ALREADY contains our own version v, so skip the
    // swap only when a strictly newer manifest exists (that writer's swap
    // covers ours); otherwise we are the newest commit and must still
    // advance the pointer.
    val cur =
      if (!fs(p).exists(p)) 0L
      else pointerVersion(table).getOrElse {
        val mx = listedVersion(table)
        if (mx <= v) v - 1 else mx
      }
    if (v > cur) atomicWrite(p, v.toString)
  }

  private def atomicWrite(dest: Path, content: String): Unit = {
    val f = fs(dest)
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (f.exists(dest)) f.delete(dest, false)
    require(f.rename(tmp, dest), s"atomic rename failed for $dest")
  }

  /** Optimistic-concurrency manifest creation: a snapshot version may be
    * written exactly ONCE. Two writers racing to version N both write a
    * private tmp, but only one rename lands; the loser gets
    * [[TableStore.CommitConflictException]] and must recompute against
    * the new snapshot (pure appends retry automatically; rewrite-style
    * commits surface it, since their kept-file decisions were made
    * against the old snapshot — Iceberg's validation semantics). Local
    * POSIX rename can overwrite, so existence is checked before AND after
    * the write; HDFS/object-store deployments get a truly atomic
    * create-exclusive from the same call shape. A lost commit's data files
    * are referenced by no manifest — snapshot expiry can never reach them;
    * [[removeOrphanFiles]] is the collector for exactly these. */
  private[core] def atomicWriteExclusive(dest: Path, content: String): Unit = {
    val f = fs(dest)
    def conflict() = throw new TableStore.CommitConflictException(
      s"concurrent commit already wrote $dest; recompute against the new snapshot")
    if (f.exists(dest)) conflict()
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (f.exists(dest) || !f.rename(tmp, dest)) {
      f.delete(tmp, false)
      conflict()
    }
  }
}

object TableStore {
  /** An optimistic commit lost the race for its snapshot version: another
    * writer created that manifest first. Recompute against the new
    * snapshot and retry (appends do this automatically). */
  class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Run `body`, and run it again each time it loses an optimistic commit,
    * at most `retries` more times; the last conflict surfaces. Sound only
    * when every run re-reads the snapshot it commits against. */
  def retryOnConflict[A](retries: Int)(body: => A): A =
    try body
    catch {
      case _: CommitConflictException if retries > 0 => retryOnConflict(retries - 1)(body)
    }

  /** Bucket partition transform (Iceberg's `bucket(N, col)` re-expressed
    * portably): bucket = first 6 md5 nibbles of the key's string
    * rendering, mod N — uniform, engine-reproducible (md5 exists
    * everywhere the store's other portable hashes do), and recoverable
    * from the manifest alone because N is encoded in the partition
    * column's name. The layout answer for RANDOM keys (md5 surrogates),
    * where min/max ranges span every file and only blooms helped before:
    * key lookups and CDC-merge planning prune to the keys' buckets. */
  def bucketColumn(keyCol: String, numBuckets: Int): String =
    s"__bucket${numBuckets}_$keyCol"

  def bucketOf(key: Column, numBuckets: Int): Column =
    functions.conv(functions.substring(
      functions.md5(key.cast("string")), 1, 6), 16, 10)
      .cast("long") % numBuckets

  /** Name-encoded bucket transform: `__bucket<N>_<col>`. Public so the
    * DSv2 write path can recognize and compute bucket layouts. */
  val BucketRe = "__bucket(\\d+)_(.+)".r

  /** Temporal + truncate partition transforms (Iceberg's HIDDEN
    * partitioning — docs/README.md's partitioned fact tables generalized):
    * the partition value is DERIVED from a source column at write time, so
    * the user never adds a day column or filters on one. Name-encoded like
    * [[BucketRe]] so the spec is recoverable from the manifest alone:
    * `days(ts)` → `__days_ts`, `months(ts)` → `__months_ts`,
    * `hours(ts)` → `__hours_ts`, `truncate(w, s)` → `__trunc<w>_s`.
    * Every rendering is a FIXED-WIDTH string whose lexicographic order
    * matches the source order (zero-padded date parts; string-prefix
    * truncate), so the recorded partition value doubles as an exact
    * min=max string stat and range predicates on the SOURCE column prune
    * through it (see `TransformPruning`). */
  val DaysRe = "__days_(.+)".r
  val MonthsRe = "__months_(.+)".r
  val HoursRe = "__hours_(.+)".r
  val YearsRe = "__years_(.+)".r
  val TruncRe = "__trunc(\\d+)_(.+)".r

  def daysColumn(c: String): String = s"__days_$c"
  def monthsColumn(c: String): String = s"__months_$c"
  def hoursColumn(c: String): String = s"__hours_$c"
  def yearsColumn(c: String): String = s"__years_$c"
  def truncColumn(c: String, width: Int): String = s"__trunc${width}_$c"

  /** True when `pc` names any derived (non-identity) partition transform. */
  def isTransform(pc: String): Boolean = pc match {
    case DaysRe(_) | MonthsRe(_) | HoursRe(_) | YearsRe(_) | TruncRe(_, _) |
         BucketRe(_, _) => true
    case _ => false
  }

  /** The schema column a transform partition column derives from. */
  def transformSource(pc: String): Option[String] = pc match {
    case DaysRe(c) => Some(c)
    case MonthsRe(c) => Some(c)
    case HoursRe(c) => Some(c)
    case YearsRe(c) => Some(c)
    case TruncRe(_, c) => Some(c)
    case BucketRe(_, c) => Some(c)
    case _ => None
  }

  /** The Column expression computing a transform partition value from its
    * source column — used by every write path when the batch does not
    * already carry the column, making the partitioning truly hidden.
    * Temporal renderings go through `date_format`, which uses the
    * session's time zone; the prune-side literal conversion
    * (`TransformPruning`) renders through the same session zone, so write
    * and prune always agree. */
  def transformExpr(pc: String): Option[Column] = pc match {
    case DaysRe(c) =>
      Some(functions.date_format(functions.col(c).cast("timestamp"),
        "yyyy-MM-dd"))
    case MonthsRe(c) =>
      Some(functions.date_format(functions.col(c).cast("timestamp"),
        "yyyy-MM"))
    case HoursRe(c) =>
      Some(functions.date_format(functions.col(c).cast("timestamp"),
        "yyyy-MM-dd-HH"))
    case YearsRe(c) =>
      Some(functions.date_format(functions.col(c).cast("timestamp"),
        "yyyy"))
    case TruncRe(w, c) =>
      Some(functions.substring(functions.col(c).cast("string"), 1, w.toInt))
    case BucketRe(n, c) => Some(bucketOf(functions.col(c), n.toInt))
    case _ => None
  }

  /** Row-side twin of [[bucketOf]] (same md5-prefix arithmetic) for the
    * catalog's SQL `bucket(n, key)` function — `key` must already be the
    * Cast-to-string rendering [[bucketOf]] hashes. Null-safe: null in,
    * null out (the null bucket). */
  def bucketOfString(key: String, n: Int): Integer = {
    if (key == null) return null
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex6 = f"${d(0) & 0xff}%02x${d(1) & 0xff}%02x${d(2) & 0xff}%02x"
    (java.lang.Long.parseLong(hex6, 16) % n).toInt
  }

  /** Sentinel key set marking a POSITIONAL delete file (Iceberg v2's
    * second delete kind): rows are `(__file, __pos)` — table-relative
    * data-file path and row index within it — instead of data-key
    * tuples. A positional delete masks exactly the named positions, so
    * no sequence comparison is involved at read time (paths are never
    * reused: `v=N/` is monotone). */
  val PosDeleteKey: Seq[String] = Seq("__file", "__pos")

  def isPositional(d: DeleteEntry): Boolean = d.keyCols == PosDeleteKey

  /** True for a manifest path that points OUTSIDE the table directory —
    * an `add_files`-adopted file, referenced by absolute/qualified URI
    * rather than the table-relative `v=N/...` form. Maintenance
    * (expiry, compaction cleanup) must never delete these. */
  def isExternalPath(p: String): Boolean =
    p.startsWith("/") || p.contains(":/")

  /** A data file's sequence = the version encoded in its `v=N/` path
    * prefix (files are written into their commit's version directory and
    * never renamed). Non-version paths (staged files published in place)
    * sequence as 0 — merge-on-read writes refuse such tables up front. */
  def fileSeqOf(path: String): Long =
    if (path.startsWith("v=")) {
      val i = path.indexOf('/')
      if (i > 2) scala.util.Try(path.substring(2, i).toLong).getOrElse(0L) else 0L
    } else 0L

  /** Process-wide parsed-manifest cache, keyed by (qualified path, mtime,
    * length) — safe because manifests are create-exclusive-immutable.
    * Bounded by wholesale clear (entries are cheap to re-parse). */
  private[core] val manifestCache
      : java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Manifest] =
    new java.util.concurrent.ConcurrentHashMap()

  /** Per-manifest persisted segment references (qualified manifest path →
    * (relative segment path, file count) list) — what the NEXT append
    * needs to extend the chain without re-serializing the shared prefix.
    * Manifests are immutable, so path-only keying is safe. */
  private[core] val segRefCache
      : java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Int)]] =
    new java.util.concurrent.ConcurrentHashMap()

  /** Parsed immutable file-list segments (qualified path → entries). */
  private[core] val segmentCache
      : java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]] =
    new java.util.concurrent.ConcurrentHashMap()

  /** Shared bounded pool for commit-time footer harvesting. */
  private[core] lazy val harvestEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, Runtime.getRuntime.availableProcessors()),
        r => { val t = new Thread(r, "graft-footer-harvest"); t.setDaemon(true); t }))

  /** Per-column min/max harvested from parquet footers, stringly-stored
    * with a kind tag so pruning compares in the right domain. `nulls` is
    * the file's exact null count for the column (footer num_nulls summed
    * across row groups), or -1 when any row group left it unset — top-k
    * file pruning needs it because NULLS FIRST orderings put null rows
    * ahead of every value the min/max describe. */
  case class ColStats(min: String, max: String, kind: String,
    nulls: Long = -1L)

  /** String stats compare by unsigned UTF-8 bytes — the order parquet
    * footer stats and Spark's string comparison use. Java's
    * String.compareTo (UTF-16 code units) diverges for supplementary-plane
    * characters, which would make min/max pruning silently drop rows. */
  def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private[graft] def toLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case t: java.sql.Timestamp => // parquet TIMESTAMP_MICROS, keep sub-ms
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    case d: java.sql.Date => d.toLocalDate.toEpochDay // parquet DATE (days)
    case s: String => s.toLong
  }

  private[graft] def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case s: String => s.toDouble
  }

  private[graft] def toBigDec(v: Any): java.math.BigDecimal = v match {
    case bd: java.math.BigDecimal => bd
    case bd: scala.math.BigDecimal => bd.bigDecimal
    case n: Number => new java.math.BigDecimal(n.toString)
    case s => new java.math.BigDecimal(s.toString)
  }

  /** Compare a stored stat value (min or max) against a literal in the
    * stat's domain. Returns None when the literal can't be interpreted in
    * that domain (caller must be conservative). Kind "dec<scale>" holds the
    * parquet UNSCALED integer; the comparison rehydrates the true decimal. */
  private[graft] def cmpStat(statVal: String, kind: String, v: Any): Option[Int] =
    try {
      if (kind.startsWith("dec"))
        Some(new java.math.BigDecimal(new java.math.BigInteger(statVal),
          kind.stripPrefix("dec").toInt).compareTo(toBigDec(v)))
      else kind match {
        // A decimal literal against a plain-integer stat means scale info
        // was lost somewhere upstream — never prune on that comparison.
        case "long" => v match {
          case _: java.math.BigDecimal | _: scala.math.BigDecimal => None
          case _ => Some(java.lang.Long.compare(statVal.toLong, toLong(v)))
        }
        case "double" => Some(java.lang.Double.compare(statVal.toDouble, toDouble(v)))
        case _ => Some(utf8Cmp(statVal, v.toString))
      }
    } catch { case _: Exception => None }
  /** `path` is relative to the table directory and version-qualified
    * (e.g. "v=3/part-0000.parquet", or
    * "v=3/__p_day=2024-01-01/part-0000.parquet" under a partition spec) so
    * snapshots can share files. `partitionValues` is the file's identity
    * partition tuple (also folded into `stats` as min=max). */
  case class FileEntry(path: String, sizeBytes: Long, rowCount: Long = 0L,
    stats: Map[String, ColStats] = Map.empty,
    partitionValues: Map[String, String] = Map.empty)

  /** Equality-delete file (Iceberg v2 merge-on-read): `path` holds the
    * DISTINCT `keyCols` tuples invalidated at sequence `seq` — readers
    * drop matching rows from data files with a SMALLER sequence (a data
    * file's sequence is the version encoded in its `v=N/` path prefix).
    * Write cost of an upsert/delete is O(churn); the rewrite is deferred
    * to [[TableStore.compact]]-style maintenance. */
  case class DeleteEntry(path: String, keyCols: Seq[String], seq: Long,
    rowCount: Long = 0L)

  /** One snapshot of a table.
    *
    * `droppedColumns` accumulates every column name ever dropped from the
    * table. Old data files still physically contain those columns; because
    * reads resolve by NAME (no field ids), re-adding a dropped name would
    * silently resurrect the stale values instead of reading null — so
    * ADD COLUMN of a dropped name is rejected (see GraftCatalog.alterTable).
    *
    * `streamEpoch` marks a snapshot committed by a Structured Streaming
    * sink epoch (streaming query id, epoch id). It is the exactly-once
    * ledger: a restarted stream that replays an epoch finds the marker and
    * skips the re-commit. Never carried forward — each manifest records
    * only its own epoch.
    *
    * `constraints` are named CHECK predicates (SQL text) enforced on
    * every row written to the table (Delta-style); carried forward by
    * every commit like the partition spec. A row violates a constraint
    * only when the predicate evaluates to FALSE — NULL passes, the SQL
    * standard CHECK semantic. */
  case class Manifest(version: Long, timestampMs: Long, operation: String,
      files: Seq[FileEntry], schemaJson: String,
      partitionBy: Seq[String] = Seq.empty,
      droppedColumns: Seq[String] = Seq.empty,
      deleteFiles: Seq[DeleteEntry] = Seq.empty,
      streamEpoch: Option[(String, Long)] = None,
      constraints: Seq[(String, String)] = Seq.empty,
      writeOrder: Seq[String] = Seq.empty,
      columnMap: Seq[(String, String)] = Seq.empty) {
    /** Rows across `files` (persisted under the `rowCount` key). */
    lazy val rowCount: Long = files.iterator.map(_.rowCount).sum

    /** The successor snapshot: the next version, stamped now, made by
      * `operation`, carrying every other field except the epoch stamp.
      * Each commit overrides only what it changes. */
    def next(operation: String): Manifest = copy(version = version + 1,
      timestampMs = System.currentTimeMillis(), operation = operation,
      streamEpoch = None)
  }

  object Manifest {
    /** A table with no content at `version` — version 0 is the state
      * before a table's first snapshot; a replace builds on the head's. */
    def emptyAt(version: Long): Manifest = Manifest(version, 0L, "", Seq.empty, "{}")
  }
}
