package graft
package queries

import graft.core.{MatView, Merge, TableStore}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Support._

/** The table format through the `TableStore` API: commits, time
  * travel, compaction, merge-on-read, tags, branches, transactions. */
object TableFormatQueries {

  val all: Seq[Query] = Seq(
    // §2A A14 extension: incremental snapshot read — the rows added
    // between two versions, planned metadata-only from the manifest
    // file-set difference (cost scales with the delta, not the table) —
    // the feed an incremental downstream pipeline consumes instead of
    // rescanning. Oracle: the same row set expressed as a time filter.
    Query("q71_incremental_read", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val store = Scratch.store(s)
      store.commit("ev", ev.filter(col("ts") < lit("2024-01-10")), "create")
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-10") &&
        col("ts") < lit("2024-01-20")))
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-20")))
      store.readIncremental("ev", 1, 3)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The incremental rows (versions 2-3 = everything since 2024-01-10)
      // as a plain time filter — the store's manifest-diff scan must return
      // exactly this row set.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE ts >= '2024-01-10'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // §2A A14+A15: time travel + $history metadata.
    Query("q22_time_travel", Family.TableFormat, (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val store = Scratch.store(s)
      store.commit("ev", ev.filter(col("ts") < lit("2024-01-15")), "create")
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-15")))
      val v1CommitMs = store.manifests("ev").head.timestampMs
      val v1Rows = store.readAsOf("ev", v1CommitMs).count()
      val v2Rows = store.read("ev").count()
      val nVersions = store.history("ev").count()
      Seq((v1Rows, v2Rows, nVersions))
        .toDF("v1_n_rows", "v2_n_rows", "n_versions")
    }, oracleSql =
      """SELECT
        | (SELECT count(*) FROM events WHERE ts < TIMESTAMP '2024-01-15') AS v1_n_rows,
        | count(*) AS v2_n_rows,
        | CAST(2 AS BIGINT) AS n_versions
        |FROM events""".stripMargin),

    // §2A/§4: manifest min/max file skipping (Iceberg-style) — a
    // range-partitioned commit is re-read through readWhere; the driver
    // check proves pruned results stay exact, the files_scanned column
    // proves files were actually skipped.
    Query("q28_file_pruning", Family.TableFormat, (s, dir) => {
      import s.implicits._
      val store = Scratch.store(s)
      store.commit("li",
        Tables.load(s, dir, "lineitem")
          .repartitionByRange(8, col("l_orderkey")), "create")
      val lo = 100L
      val hi = 500L
      val (kept, total) = store.prunedFileCount("li", "l_orderkey", lo, hi)
      val agg = store.readWhere("li", "l_orderkey", lo, hi)
        .agg(count(lit(1)).as("n_rows"), dsumd(col("l_quantity")).as("sum_qty"))
        .withColumn("pruning_effective", lit(kept < total))
      agg
    }, oracleSql =
      """SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(TRUE AS BOOLEAN) AS pruning_effective
        |FROM lineitem WHERE l_orderkey >= 100 AND l_orderkey <= 500""".stripMargin),

    // §2A A6: partitioned sink — identity partition spec on event_type,
    // Iceberg-style manifest partition tuples; the readWhere scan lists
    // ONLY the matching partition's files (partition_exact proves kept ==
    // files of that partition and < total).
    Query("q49_partitioned_sink", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      store.commitPartitioned("ev", Tables.load(s, dir, "events"),
        Seq("event_type"), "create")
      val m = store.manifests("ev").last
      val expected = m.files.count(_.partitionValues.get("event_type").contains("click"))
      val (kept, total) = store.prunedFileCount("ev", "event_type", "click", "click")
      store.readWhere("ev", "event_type", "click", "click")
        .agg(count(lit(1)).as("n_rows"), dsumd(col("value")).as("sum_value"))
        .withColumn("partition_exact", lit(kept == expected && kept < total))
    }, oracleSql =
      """SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | CAST(TRUE AS BOOLEAN) AS partition_exact
        |FROM events WHERE event_type = 'click'""".stripMargin),

    // §2A A16: bin-pack compaction preserves rows while packing files.
    Query("q23_compaction", Family.TableFormat, (s, dir) => {
      import s.implicits._
      val store = Scratch.store(s)
      store.commit("ev", Tables.load(s, dir, "events").repartition(16), "create")
      val before = store.manifests("ev").last.files.size.toLong
      store.compact("ev", targetFileBytes = 1024L * 1024 * 1024)
      val after = store.manifests("ev").last.files.size.toLong
      val rows = store.read("ev").count()
      Seq((before, after, rows)).toDF("files_before", "files_after", "n_rows")
    }, oracleSql =
      """SELECT CAST(16 AS BIGINT) AS files_before, CAST(1 AS BIGINT) AS files_after,
        | count(*) AS n_rows
        |FROM events""".stripMargin),

    // Table format: sort-clustered rewrite (rewrite_data_files with a
    // sort strategy) — ingest events hash-scattered so every file's
    // [min,max] on `value` spans the whole domain (pruning can skip
    // nothing), rewriteSorted on `value`, then prove the SAME stats-pruned
    // range read now skips files: `files_pruned` must be true, and the
    // aggregate must still match the plain SQL oracle exactly.
    Query("q78_sorted_rewrite", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      // Hash-scatter on event_id ⇒ each of the 8 files holds a uniform
      // slice of `value` — the adversarial layout for range pruning.
      store.commit("ev", ev.repartition(8, col("event_id")), "create")
      val lo = 10.0
      val hi = 20.0
      val (beforeKept, beforeTotal) = store.prunedFileCount("ev", "value", lo, hi)
      // Target ~8 sorted files at ANY scale factor (size-relative, not
      // absolute — an absolute target degenerates to one file at small SF
      // and thousands at large).
      val totalBytes = store.manifests("ev").maxBy(_.version)
        .files.map(_.sizeBytes).sum
      store.rewriteSorted("ev", Seq("value"),
        targetFileBytes = math.max(1L, totalBytes / 8))
      val (afterKept, afterTotal) = store.prunedFileCount("ev", "value", lo, hi)
      store.readWhere("ev", "value", lo, hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("files_pruned",
          lit(beforeKept == beforeTotal && afterKept < afterTotal))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The rewrite only relocates rows across files — the range read's
      // result must equal the plain filter.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS files_pruned
        |FROM events WHERE value >= 10.0 AND value <= 20.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Table format: write-audit-publish — half the events commit normally;
    // the other half is STAGED (invisible to readers, no version slot
    // consumed), audited via readStaged, then published metadata-only.
    // `staged_invisible` proves isolation (main still equals the first
    // half while staged), and the final aggregate = the full table.
    Query("q79_write_audit_publish", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      store.commit("ev", ev.filter(col("event_id") % 2 === 0), "create")
      val beforeRows = store.read("ev").count()
      val id = store.stageAppend("ev", ev.filter(col("event_id") % 2 === 1))
      // Audit: staged rows are exactly the odd half; main is unchanged.
      val stagedRows = store.readStaged("ev", id).count()
      val mainDuringStage = store.read("ev").count()
      store.publishStaged("ev", id)
      store.read("ev")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("staged_invisible",
          lit(mainDuringStage == beforeRows && stagedRows > 0))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Stage + publish of the odd half on top of the even half = the whole
      // table.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS staged_invisible
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Table format: z-order rewrite — events hash-scattered (no pruning on
    // any column), clustered on the z-curve of (user_id, value), then the
    // SAME stats-pruned reads on EACH dimension must skip files while
    // matching the SQL oracle exactly (a lexicographic sort would pass
    // only its leading column).
    Query("q81_zorder_rewrite", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      store.commit("ev", ev.repartition(8, col("event_id")), "create")
      val uHi = 50L
      val (ku0, t0) = store.prunedFileCount("ev", "user_id", 0L, uHi)
      val (kv0, _) = store.prunedFileCount("ev", "value", 10.0, 20.0)
      val totalBytes = store.manifests("ev").maxBy(_.version)
        .files.map(_.sizeBytes).sum
      store.rewriteZOrder("ev", Seq("user_id", "value"), bitsPerCol = 8,
        targetFileBytes = math.max(1L, totalBytes / 16))
      val (ku1, t1) = store.prunedFileCount("ev", "user_id", 0L, uHi)
      val (kv1, _) = store.prunedFileCount("ev", "value", 10.0, 20.0)
      val byUser = store.readWhere("ev", "user_id", 0L, uHi)
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("dim", lit("user_id"))
      val byValue = store.readWhere("ev", "value", 10.0, 20.0)
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("dim", lit("value"))
      byUser.unionByName(byValue)
        .withColumn("files_pruned",
          lit(ku0 == t0 && kv0 == t0 && ku1 < t1 && kv1 < t1))
        .select(col("dim"), col("n"), col("total_value"), col("files_pruned"))
        .orderBy(col("dim"))
    }, oracleSql =
      // The z-curve rewrite only relocates rows — each dimension's range
      // read must equal the plain filter.
      """SELECT 'user_id' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS files_pruned
        |FROM events WHERE user_id >= 0 AND user_id <= 50
        |UNION ALL
        |SELECT 'value' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS files_pruned
        |FROM events WHERE value >= 10.0 AND value <= 20.0
        |ORDER BY dim""".stripMargin),

    // Table format: named snapshot tags — a third of events is committed
    // and tagged as a dataset release, the rest appended after; snapshot
    // expiry then drops every untagged old version. The tagged snapshot
    // must stay byte-identical forever (expiry retains tag targets, as in
    // Iceberg) while `current` reflects all appends — the reproducibility
    // contract a training-data release needs.
    Query("q80_snapshot_tags", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      store.commit("ev", ev.filter(col("event_id") % 3 === 0), "create")
      store.createTag("ev", "train-v1", store.currentVersion("ev"))
      store.append("ev", ev.filter(col("event_id") % 3 === 1))
      store.append("ev", ev.filter(col("event_id") % 3 === 2))
      store.expireSnapshots("ev", keepLast = 1)
      val tagged = store.readTag("ev", "train-v1")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("snapshot", lit("train-v1"))
      val current = store.read("ev")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("snapshot", lit("current"))
      tagged.unionByName(current)
        .select(col("snapshot"), col("event_type"), col("n"), col("total_value"))
        .orderBy(col("snapshot"), col("event_type"))
    }, oracleSql =
      // The tagged snapshot is exactly the %3==0 third; current is the whole
      // table — expiry must have changed neither.
      """SELECT 'train-v1' AS snapshot, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 3 = 0 GROUP BY event_type
        |UNION ALL
        |SELECT 'current' AS snapshot, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY snapshot, event_type""".stripMargin),

    // Table format: changelog scan (CDC read) — v1 creates the even
    // events, v2 appends the odds, v3 MERGEs a delta (update value+100 on
    // event_id%4==0 except %8==4, which delete). readChangelog(0,3) must
    // emit exactly the logical row changes: the CoW rewrite's untouched
    // rows cancel in the content diff, updated rows surface as
    // delete(old)+insert(new), and planning touches only changed files.
    Query("q86_changelog_scan", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      store.commit("ev", ev.filter(col("event_id") % 2 === 0), "create")
      store.append("ev", ev.filter(col("event_id") % 2 === 1))
      val delta = ev.filter(col("event_id") % 4 === 0)
        .select(col("event_id"), (col("value") + 100.0).as("value"))
      Merge.into(store, "ev").using(delta).on(Seq("event_id"))
        .whenMatchedDelete(Some(Merge.source("event_id") % 8 === 4))
        .whenMatchedUpdate(set = Some(Map("value" -> Merge.source("value"))))
        .run()
      store.readChangelog("ev", 0, 3)
        .groupBy(col("_commit_version"), col("_change_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .orderBy(col("_commit_version"), col("_change_type"))
    }, oracleSql =
      // Expected change feed, constructed from the known commit plan:
      // v1 = even inserts, v2 = odd inserts, v3 = delete every %4==0 old
      // image + insert the updated (+100) images except the %8==4 deletes.
      """SELECT CAST(1 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'insert', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |FROM events WHERE event_id % 2 = 1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'delete', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |FROM events WHERE event_id % 4 = 0
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'insert', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CAST(value AS DECIMAL(18,2)) + 100) AS DOUBLE)
        |FROM events WHERE event_id % 4 = 0 AND event_id % 8 <> 4
        |ORDER BY _commit_version, _change_type""".stripMargin),

    // Table format: bucket-transform CDC merge — orders keyed by a
    // RANDOM md5 surrogate (min/max ranges useless) committed into 64
    // hash buckets; a small CDC delta (updates + inserts) must plan to
    // ≤ |delta-keys| buckets (`files_pruned`), merge through the normal
    // 2-branch path, and land on the oracle's final state exactly.
    Query("q87_bucketed_merge", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      val key = md5(concat_ws("#", col("o_orderkey")))
      val o = Tables.load(s, dir, "orders")
        .select(key.as("k"), col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      store.commitBucketed("ord", o, "k", numBuckets = 64, "create")
      val base = Tables.load(s, dir, "orders")
      val bcol = graft.core.TableStore.bucketColumn("k", 64)
      // delta: a FIXED-size key set (smallest 8 of each residue class) so
      // the touched-bucket count stays ≪ 64 at every scale factor — a
      // proportional delta would occupy all buckets at sf0.1+ and the
      // pruning assertion would be measuring the delta, not the layout.
      // +100 on the %2000==3 keys (same key → update); fresh "#ins" keys
      // for %2000==7 (no match → insert). Inserts must carry the bucket.
      val updates = base.filter(col("o_orderkey") % 2000 === 3)
        .orderBy(col("o_orderkey")).limit(8)
        .select(key.as("k"), col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + 100.0).as("o_totalprice"))
      val inserts = base.filter(col("o_orderkey") % 2000 === 7)
        .orderBy(col("o_orderkey")).limit(8)
        .select(md5(concat_ws("#", col("o_orderkey"), lit("ins"))).as("k"),
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val delta = updates.unionByName(inserts)
        .withColumn(bcol, graft.core.TableStore.bucketOf(col("k"), 64))
      val (hit, untouched) =
        store.filesHitByKeys("ord", "k", delta.select(col("k")))
      Merge.into(store, "ord").using(delta).on(Seq("k"))
        .whenMatchedUpdate()
        .whenNotMatchedInsert()
        .run()
      store.read("ord")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsumd(col("o_totalprice")).as("total"))
        .withColumn("files_pruned", lit(untouched.size > hit.size))
        .orderBy(col("o_orderstatus"))
    }, oracleSql =
      // Final state of the bucketed merge: every order (+100 on the smallest
      // 8 keys of the %2000==3 class), plus the smallest 8 of %2000==7
      // duplicated under fresh keys — fixed-size sets, scale-stable.
      """WITH upd AS (SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 2000 = 3 ORDER BY o_orderkey LIMIT 8),
        |ins AS (SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 2000 = 7 ORDER BY o_orderkey LIMIT 8)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total, true AS files_pruned
        |FROM (
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2))
        |      + CASE WHEN o_orderkey IN (SELECT o_orderkey FROM upd)
        |        THEN 100 ELSE 0 END AS price
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM ins)) t
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Table format: merge-on-read — three churn batches (re-image, delete,
    // re-image again) land as O(churn) delta + equality-delete files; NOT
    // ONE prior data file is rewritten (`no_rewrite` checks the v1 file
    // set survives verbatim and ≥3 delete files exist). The read applies
    // the deletes and must equal the oracle's last-image-wins state —
    // the write mode that stays flat where copy-on-write rewrites the
    // table at high update proportions.
    Query("q88_merge_on_read", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      store.commit("ev", ev, "create")
      val v1Files = store.manifests("ev").maxBy(_.version).files.map(_.path).toSet
      store.upsertMoR("ev",
        ev.filter(col("event_id") % 100 === 1)
          .select(col("event_id"), col("event_type"),
            (col("value") + 100.0).as("value")),
        Seq("event_id"))
      store.deleteKeysMoR("ev",
        ev.filter(col("event_id") % 100 === 2).select(col("event_id")),
        Seq("event_id"))
      store.upsertMoR("ev",
        ev.filter(col("event_id") % 100 === 1)
          .select(col("event_id"), col("event_type"),
            (col("value") + 200.0).as("value")),
        Seq("event_id"))
      val m = store.manifests("ev").maxBy(_.version)
      val noRewrite = v1Files.subsetOf(m.files.map(_.path).toSet) &&
        m.deleteFiles.size >= 3
      store.read("ev")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("no_rewrite", lit(noRewrite))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Last-image-wins state: %100==1 carries the second (+200) image,
      // %100==2 is deleted, everything else is the original row.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_id % 100 = 1
        |       THEN CAST(value AS DECIMAL(18,2)) + 200
        |       ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value,
        |  true AS no_rewrite
        |FROM events WHERE event_id % 100 <> 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Partition evolution (Iceberg's headline spec flexibility): the first
    // half of events lands identity-partitioned on event_type; the spec
    // then evolves METADATA-ONLY to bucket(16, event_id) and the second
    // half lands bucketed. `evo_ok` asserts the evolution moved no data
    // (same files before/after the spec commit), old files still prune on
    // their identity value, a key lookup prunes new bucketed files while
    // conservatively hitting every old file, and the mixed-layout read
    // must equal the whole-table oracle exactly.
    Query("q94_partition_evolution", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val store = Scratch.store(s)
      val first = ev.filter(col("ts") < lit("2024-01-15"))
      val second = ev.filter(col("ts") >= lit("2024-01-15"))
      store.commitPartitioned("ev", first, Seq("event_type"), "create")
      val v1Files = store.manifests("ev").maxBy(_.version).files.map(_.path).toSet
      val bc = TableStore.bucketColumn("event_id", 16)
      store.setPartitionSpec("ev", Seq(bc))
      val evolved = store.manifests("ev").maxBy(_.version)
      store.append("ev",
        second.withColumn(bc, TableStore.bucketOf(col("event_id"), 16)))
      val (typeHit, typeTotal) =
        store.prunedFileCount("ev", "event_type", "click", "click")
      val probe = second.select(col("event_id")).limit(1)
      val (hit, skipped) = store.filesHitByKeys("ev", "event_id", probe)
      val evoOk = evolved.operation == "set-partition-spec" &&
        evolved.files.map(_.path).toSet == v1Files &&   // metadata-only
        typeHit < typeTotal &&                          // old identity pruning
        skipped.nonEmpty &&                             // bucket pruning fired
        skipped.forall(_.partitionValues.contains(bc)) && // …only on new files
        v1Files.subsetOf(hit.map(_.path).toSet)         // old files never skipped
      store.read("ev")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("evo_ok", lit(evoOk))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The mixed-layout table reads whole: identity-partitioned first half
      // plus bucket-partitioned second half must equal all of events.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS evo_ok
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // format: POSITIONAL delete files (Iceberg v2's second delete kind) —
    // predicate DELETE as (file, row-index) markers from the scan's
    // `_metadata` columns: no data file touched, no key columns needed
    // (works on keyless tables), one filter-pushed scan + O(matched)
    // delete write. A later append matching the old predicate SURVIVES
    // (positions name old files, not values) — semantics equality
    // deletes cannot express.
    Query("q107_positional_delete", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val store = Scratch.store(s)
      store.commit("ev", ev, "create")
      val filesBefore =
        store.manifests("ev").maxBy(_.version).files.map(_.path)
      store.deleteWhereMoR("ev", "event_type = 'error'")
      val m = store.manifests("ev").maxBy(_.version)
      val untouched = m.files.map(_.path) == filesBefore &&
        m.deleteFiles.nonEmpty &&
        m.deleteFiles.forall(TableStore.isPositional)
      // new 'error' rows appended AFTER the positional delete survive
      store.append("ev", ev.filter(col("event_type") === "error" &&
          col("event_id") <= 100)
        .withColumn("value", col("value") + 500.0))
      store.read("ev").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsumd(col("value")).as("total_value"))
        .withColumn("data_untouched", lit(untouched))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Positional delete of every 'error' position, then an append of
      // error rows (event_id<=100, value+500) that must survive.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS data_untouched
        |FROM (SELECT event_type, value FROM events
        |      WHERE event_type <> 'error'
        |      UNION ALL
        |      SELECT event_type, value + 500.0 AS value FROM events
        |      WHERE event_type = 'error' AND event_id <= 100)
        |GROUP BY event_type""".stripMargin),

    // format: partial compaction (`rewrite_data_files(where => ...)`) —
    // bin-pack ONLY the files overlapping a stats range; everything else
    // is carried byte-identically. The 100 TB maintenance reality: a
    // table is compacted region by region, never wholesale. The anchor
    // builds 3 range-disjoint appends, compacts the low region, and
    // proves the high file survived untouched while content is equal.
    Query("q112_compact_where", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val store = Scratch.store(s)
      val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      store.commit("ev", ev.filter(col("event_id") <= t1).coalesce(1),
        "create")
      store.append("ev",
        ev.filter(col("event_id") > t1 && col("event_id") <= t2).coalesce(1))
      store.append("ev", ev.filter(col("event_id") > t2).coalesce(1))
      val before = store.manifests("ev").maxBy(_.version)
      val highFile = before.files.maxBy(_.path) // v=3, the high region
      store.compactWhere("ev", "event_id", 1L, t2)
      val after = store.manifests("ev").maxBy(_.version)
      val partial = after.files.map(_.path).contains(highFile.path) &&
        after.files.size < before.files.size
      store.read("ev").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("partial_rewrite", lit(partial))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Partial compaction changes no visible row.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS partial_rewrite
        |FROM events GROUP BY event_type""".stripMargin),

    // format: expectation-routing writes (DLT expect_or_drop with
    // quarantine) — rows violating a CHECK constraint land in a tagged
    // quarantine table instead of aborting the batch: the triage mode
    // for pipelines where one bad row must not stall the feed. The
    // batch is scanned twice (batch-sized, never table-sized).
    Query("q114_quarantine", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val store = Scratch.store(s)
      store.commit("ev", ev, "create")
      store.addCheckConstraint("ev", "value_cap", "value < 1000")
      val batch = ev.withColumn("value", col("value") * 3.0)
      val (_, nBad) = store.appendWithQuarantine("ev", batch, "ev_bad")
      val quarantineTagged = store.read("ev_bad")
        .filter(col("__violated") === "value_cap").count() == nBad
      store.read("ev").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("n_quarantined", lit(nBad))
        .withColumn("tagged", lit(quarantineTagged && nBad > 0))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Main = fixture + tripled rows under the 1000 cap; quarantined =
      // tripled rows at or over it.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        |   WHERE NOT (value * 3.0 < 1000)) AS n_quarantined,
        |  true AS tagged
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT event_type, value * 3.0 AS value FROM events
        |      WHERE value * 3.0 < 1000)
        |GROUP BY event_type""".stripMargin),

    // format: incremental materialized-aggregate maintenance — the view
    // refreshes from the source's SNAPSHOT DELTA (metadata-planned
    // incremental read), never a rescan: at 100 TB a refresh costs the
    // appended files plus one rewrite of the group-count-sized view.
    // Exact decimal running sums make the folded view bit-identical to
    // a from-scratch aggregate at any refresh cadence.
    Query("q115_incremental_matview", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val store = Scratch.store(s)
      val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
      store.commit("ev", ev.filter(col("event_id") <= maxId / 2), "create")
      MatView.create(store, "ev", "mv", Seq("event_type"), "value")
      store.append("ev", ev.filter(col("event_id") > maxId / 2 &&
        col("event_id") <= 3 * maxId / 4))
      store.append("ev", ev.filter(col("event_id") > 3 * maxId / 4))
      val (_, deltaRows, mode) =
        MatView.refresh(store, "ev", "mv", Seq("event_type"), "value")
      val totalRows = store.manifests("ev").maxBy(_.version).rowCount
      val incremental = mode == "incremental" &&
        deltaRows > 0 && deltaRows < totalRows
      MatView.read(store, "mv")
        .select(col("event_type"), col("cnt").as("n"),
          col("sum_val").as("total_value"))
        .withColumn("incremental", lit(incremental))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The incrementally-folded view equals a from-scratch aggregate.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS incremental
        |FROM events GROUP BY event_type""".stripMargin),

    // format: ANALYZE — snapshot-scoped per-column statistics (Iceberg's
    // ANALYZE/Puffin shape; served by `$stats` with explicit staleness).
    // Null counts ride ONE aggregate pass; NDV is the deterministic KMV
    // sketch — exact below k=256 distinct (lang/source/lang_nullable),
    // the engine-replayable estimate above (doc_id). The oracle
    // recomputes the KMV estimate from the same md5 prefixes.
    Query("q131_analyze_stats", Family.TableFormat, (s, dir) => {
      import s.implicits._
      val store = Scratch.store(s)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          when(col("doc_id") % 10 === 0, lit(null).cast("string"))
            .otherwise(col("lang")).as("lang_nullable"))
      store.commit("d", docs, "create")
      store.analyzeTable("d")
      val (_, rc, cols) = store.columnStats("d").get
      cols.sortBy(_._1).toDF("col_name", "n_nulls", "ndv", "max_freq")
        .withColumn("n_rows", lit(rc))
        .orderBy(col("col_name"))
    }, oracleSql =
      // Exact null counts + COUNT(DISTINCT) for the sub-k columns; the
      // KMV estimate re-derived from the same 48-bit md5 prefixes for
      // doc_id (k=256, estimate = 255*2^48 // h_256).
      """WITH base AS (SELECT doc_id, lang, source,
        |    CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS lang_nullable
        |  FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS rc FROM base),
        |dh AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h
        |  FROM base),
        |dhk AS (SELECT MAX(h) AS hk FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM dh)
        |  WHERE rn <= 256),
        |stats AS (
        |  SELECT 'doc_id' AS col_name, 0 AS n_nulls,
        |    CASE WHEN (SELECT COUNT(*) FROM dh) < 256
        |         THEN (SELECT COUNT(*) FROM dh)
        |         ELSE (255 * 281474976710656)
        |              // greatest((SELECT hk FROM dhk), 1) END AS ndv,
        |    (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       GROUP BY doc_id)) AS max_freq
        |  UNION ALL
        |  SELECT 'lang', 0, COUNT(DISTINCT lang),
        |    (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       WHERE lang IS NOT NULL GROUP BY lang))
        |  FROM base
        |  UNION ALL
        |  SELECT 'lang_nullable',
        |    SUM(CASE WHEN lang_nullable IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT lang_nullable),
        |    (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       WHERE lang_nullable IS NOT NULL GROUP BY lang_nullable))
        |  FROM base
        |  UNION ALL
        |  SELECT 'source', 0, COUNT(DISTINCT source),
        |    (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       WHERE source IS NOT NULL GROUP BY source))
        |  FROM base)
        |SELECT col_name, CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(ndv AS BIGINT) AS ndv, CAST(max_freq AS BIGINT) AS max_freq,
        |  (SELECT rc FROM n) AS n_rows
        |FROM stats ORDER BY col_name""".stripMargin),

    // core: multi-table transaction (q146) — fact + dim land atomically
    // (single create-exclusive intent write, roll-forward recovery); a
    // second transaction is staged and abandoned mid-flight ("crash"
    // before its commit point), so its rows must be invisible to the
    // reads — the oracle sees only the committed pair.
    Query("q146_multi_table_txn", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      val orders = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      store.beginTransaction()
        .stageOverwrite("txn_fact", orders
          .filter(col("o_orderkey") % 4 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"))
        .stageOverwrite("txn_dim", cust.select("c_custkey", "c_mktsegment"))
        .commit()
      store.beginTransaction() // staged, never committed
        .stageAppend("txn_fact", orders.limit(50)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"))
      store.read("txn_fact").join(store.read("txn_dim"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy(col("c_mktsegment"), col("o_orderstatus"))
    }, oracleSql =
      // The committed transaction's pair only — the abandoned staged append
      // must contribute nothing.
      """SELECT c_mktsegment, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 4 = 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // core: atomic cross-table purge (q147) — the GDPR "forget these
    // customers everywhere" shape: ONE transaction stages merge-on-read
    // delete keys against orders (by custkey) AND lineitem (by the
    // derived orderkeys); both tables flip together at the intent write.
    // Reads go through the MoR overlay — no data file rewritten.
    Query("q147_txn_cross_purge", Family.TableFormat, (s, dir) => {
      val store = Scratch.store(s)
      val orders = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      store.commit("po", orders.select("o_orderkey", "o_custkey",
        "o_totalprice"), "create")
      store.commit("pl", li.select("l_orderkey", "l_quantity",
        "l_extendedprice"), "create")
      val purgeCust = orders.filter(col("o_custkey") % 10 === 7)
      store.beginTransaction()
        .stageDeleteKeys("po", purgeCust.select("o_custkey"), Seq("o_custkey"))
        .stageDeleteKeys("pl", purgeCust.select(
          col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"))
        .commit()
      val o = store.read("po").agg(count(lit(1)).as("orders_left"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("orders_total"))
      val l = store.read("pl").agg(count(lit(1)).as("items_left"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("items_qty"))
      o.crossJoin(l)
    }, oracleSql =
      // Both tables reflect the purge — orders by custkey, lineitem by the
      // purged customers' orderkeys.
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_custkey % 10 <> 7) AS orders_left,
        |  (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    FROM orders WHERE o_custkey % 10 <> 7) AS orders_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE l_orderkey NOT IN (
        |      SELECT o_orderkey FROM orders WHERE o_custkey % 10 = 7))
        |    AS items_left,
        |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    FROM lineitem WHERE l_orderkey NOT IN (
        |      SELECT o_orderkey FROM orders WHERE o_custkey % 10 = 7))
        |    AS items_qty""".stripMargin),

    // Semi-structured VARIANT column (q159) — Spark 4's native variant
    // type end-to-end through the table layer: nested JSON (object +
    // array + scalars) parsed once at ingest into the binary variant
    // encoding, committed to a versioned table (footer stats skip the
    // nested group), read back and path-extracted with variant_get —
    // no per-query JSON re-parsing, the 100 TB answer to schemaless
    // event payloads. Missing paths yield NULL, counted to pin the
    // semantics.
    Query("q159_variant_column", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val js = to_json(struct(
        struct(col("user_id").as("id"), (col("user_id") % 5).as("tier"))
          .as("user"),
        array(col("event_type"),
          concat(lit("t"), (col("event_id") % 7).cast("string"))).as("tags"),
        (col("event_id") % 1000).as("mils")))
      val wh = Scratch.dir("wh")
      val store = new TableStore(s, wh)
      store.commit("ev_var",
        ev.select(col("event_id"), parse_json(js).as("props_v")), "create")
      store.read("ev_var")
        .select(
          variant_get(col("props_v"), "$.tags[0]", "string").as("tag0"),
          variant_get(col("props_v"), "$.user.tier", "bigint").as("tier"),
          variant_get(col("props_v"), "$.mils", "bigint").as("mils"),
          variant_get(col("props_v"), "$.missing", "bigint").as("m"))
        .groupBy(col("tag0"), col("tier"))
        .agg(count(lit(1)).as("n"), sum(col("mils")).as("sum_mils"),
          sum(when(col("m").isNull, 1L).otherwise(0L)).as("n_missing"))
        .orderBy(col("tag0"), col("tier"))
    }, oracleSql =
      // The variant paths replayed relationally: tags[0] = event_type,
      // user.tier = user_id % 5, mils = event_id % 1000, missing ⇒ NULL
      // for every row.
      """SELECT event_type AS tag0, user_id % 5 AS tier,
        |  COUNT(*) AS n,
        |  CAST(SUM(event_id % 1000) AS BIGINT) AS sum_mils,
        |  COUNT(*) AS n_missing
        |FROM events GROUP BY event_type, user_id % 5
        |ORDER BY tag0, tier""".stripMargin),

    // MERGE WITH SCHEMA EVOLUTION (q160) — the enrichment-backfill
    // shape: a scoring job merges a quality column the target never had;
    // the column appends to the schema in the SAME commit, updated rows
    // carry scores, untouched rows (and untouched carried FILES — the
    // file-level CoW keeps pruning) read NULL.
    Query("q160_merge_schema_evolution", Family.TableFormat, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val wh = Scratch.dir("wh")
      val store = new TableStore(s, wh)
      store.commit("docs",
        docs.repartitionByRange(8, col("doc_id")), "create")
      val upd = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("quality", col("doc_id") % 97)
      val ins = docs.filter(col("doc_id") % 1000 === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          col("n_chars"))
        .withColumn("quality", col("doc_id") % 97)
      graft.core.Merge.into(store, "docs")
        .using(upd.unionByName(ins))
        .on(Seq("doc_id"))
        .whenMatchedUpdate()
        .whenNotMatchedInsert()
        .withSchemaEvolution()
        .run()
      store.read("docs").groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(when(col("quality").isNotNull, 1L).otherwise(0L))
            .as("n_scored"),
          sum(coalesce(col("quality"), lit(0L))).as("sum_quality"))
        .orderBy(col("lang"))
    }, oracleSql =
      // Post-merge state replayed relationally: every row keeps its base
      // image, rows with doc_id % 10 = 0 gain quality = doc_id % 97,
      // shifted inserts append with their own score, everyone else NULL.
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(CASE WHEN quality IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_scored,
        |  CAST(SUM(COALESCE(quality, 0)) AS BIGINT) AS sum_quality
        |FROM (
        |  SELECT lang, n_chars,
        |    CASE WHEN doc_id % 10 = 0 THEN doc_id % 97 END AS quality
        |  FROM documents
        |  UNION ALL
        |  SELECT lang, n_chars, (doc_id + 10000000) % 97
        |  FROM documents WHERE doc_id % 1000 = 1) t
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Row lineage through CoW MERGE (q162) — Iceberg v3 `_row_id` /
    // `_last_updated_sequence_number`: updated rows keep their id and
    // bump the sequence, untouched rows (and carried files) change
    // neither, inserts draw fresh unique ids above the table max —
    // allocated METADATA-ONLY from folded footer stats, no scan. The
    // audit question this answers at 100 TB: "which physical rows did
    // commit N touch" without diffing snapshots.
    Query("q162_row_lineage", Family.TableFormat, (s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val wh = Scratch.dir("wh")
      val store = new TableStore(s, wh)
      store.commit("docs",
        base.withColumn("_row_id", col("doc_id"))
          .withColumn("_last_updated_seq", lit(1L))
          .repartitionByRange(8, col("doc_id")), "create")
      val upd = base.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1)
      val ins = base.filter(col("doc_id") % 1000 === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          col("n_chars"))
      graft.core.Merge.into(store, "docs")
        .using(upd.unionByName(ins))
        .on(Seq("doc_id"))
        .whenMatchedUpdate()
        .whenNotMatchedInsert()
        .withRowLineage()
        .run()
      store.read("docs")
        .groupBy(col("lang"), col("_last_updated_seq"))
        .agg(count(lit(1)).as("n"), sum(col("_row_id")).as("sum_row_id"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("_last_updated_seq"))
    }, oracleSql =
      // Lineage replay: kept rows (id = doc_id, seq 1), updates (id kept,
      // seq 2, n_chars+1), inserts (id = table max + delta row_number
      // with update-row gaps, seq 2).
      """WITH m AS (SELECT MAX(doc_id) AS mx,
        |    SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS nupd
        |  FROM documents),
        |fin AS (
        |  SELECT lang,
        |    n_chars + CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS n_chars,
        |    doc_id AS row_id,
        |    CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END AS seq
        |  FROM documents
        |  UNION ALL
        |  SELECT lang, n_chars,
        |    (SELECT mx FROM m) + (SELECT nupd FROM m)
        |      + row_number() OVER (ORDER BY doc_id) AS row_id,
        |    2 AS seq
        |  FROM documents WHERE doc_id % 1000 = 1)
        |SELECT lang, CAST(seq AS BIGINT) AS _last_updated_seq,
        |  COUNT(*) AS n, CAST(SUM(row_id) AS BIGINT) AS sum_row_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM fin GROUP BY lang, seq ORDER BY lang, seq""".stripMargin),

    // Incremental JOIN materialized view (q168) — revenue-per-priority
    // over lineitem ⋈ orders, maintained by the classic delta
    // decomposition ΔL⋈R_new ∪ L_old⋈ΔR after BOTH sides grow (the
    // ΔL⋈ΔR corner rides in the first leg). Both deltas interleave all
    // join keys, so every leg is non-trivial; the refresh scans only
    // appended files plus one matched side, never re-joins the history.
    Query("q168_join_matview", Family.TableFormat, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("orderkey"), col("l_linenumber"),
          col("l_quantity"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      val store = Scratch.store(s)
      store.commit("li", li.filter(col("l_linenumber") % 2 === 0), "create")
      store.commit("ord", ord.filter(col("orderkey") % 2 === 0), "create")
      MatView.createJoin(store, "li", "ord", "mv", Seq("orderkey"),
        Seq("o_orderpriority"), "l_quantity")
      store.append("li", li.filter(col("l_linenumber") % 2 === 1))
      store.append("ord", ord.filter(col("orderkey") % 2 === 1))
      val (_, _, deltaRows, mode) = MatView.refreshJoin(store, "li", "ord",
        "mv", Seq("orderkey"), Seq("o_orderpriority"), "l_quantity")
      val totalRows = store.manifests("li").maxBy(_.version).rowCount +
        store.manifests("ord").maxBy(_.version).rowCount
      val incremental = mode == "incremental" &&
        deltaRows > 0 && deltaRows < totalRows
      MatView.read(store, "mv")
        .select(col("o_orderpriority").as("priority"), col("cnt").as("n"),
          col("sum_val").as("total_qty"))
        .withColumn("incremental", lit(incremental))
        .orderBy(col("priority"))
    }, oracleSql =
      // The incrementally-maintained join view must equal the from-scratch
      // join aggregate.
      """SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_qty,
        |  true AS incremental
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY priority""".stripMargin),

    // Snapshot-isolated multi-table reads (q174) — `consistentVersions`
    // pins a cut across tables that contains ALL or NONE of every
    // transaction's ops (pointer double-read around a recovery drive —
    // the answer to the read-skew window per-table pointer swaps leave).
    // A committed fact+dim txn is fully visible at the cut; an abandoned
    // staged txn contributes nothing; both tables read via VERSION AS OF
    // the pinned cut.
    Query("q174_consistent_cut", Family.TableFormat, (s, dir) => {
      val wh = Scratch.dir("wh")
      val store = new TableStore(s, wh)
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      store.commit("po", ord.filter(col("o_orderkey") % 4 === 0), "create")
      store.commit("pl", li.filter(col("l_orderkey") % 4 === 0), "create")
      store.beginTransaction()
        .stageAppend("po", ord.filter(col("o_orderkey") % 4 === 1))
        .stageAppend("pl", li.filter(col("l_orderkey") % 4 === 1))
        .commit()
      // abandoned mid-flight: staged, never committed — must not surface
      store.beginTransaction()
        .stageAppend("po", ord.filter(col("o_orderkey") % 4 === 2))
      val cut = store.consistentVersions(Seq("po", "pl"))
      val o = store.readVersion("po", cut("po"))
      val l = store.readVersion("pl", cut("pl"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("total_qty"))
        .withColumn("cut_consistent",
          lit(cut == Map("po" -> 2L, "pl" -> 2L)))
        .orderBy(col("priority"))
    }, oracleSql =
      // Both tables at the cut = base (%4=0) plus the committed txn's
      // appends (%4=1); the abandoned staged txn (%4=2) invisible.
      """SELECT o_orderpriority AS priority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_qty,
        |  true AS cut_consistent
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 4 <= 1 AND l_orderkey % 4 <= 1
        |GROUP BY priority ORDER BY priority""".stripMargin),

    // Incremental ANALYZE (q178) — O(delta) stats refresh: after an
    // append, only the NEW files are read and merged into the stored
    // statistics. Null/row counts add exactly; NDV merges EXACTLY (the
    // bottom-k of two KMV register sets is the bottom-k of the union, so
    // the estimate is bit-equal to a full recompute — the oracle just
    // computes the full-table KMV); maxFreq merges to the safe upper
    // bound base+delta, which the oracle replays by summing the two
    // parts' maxima.
    Query("q178_incremental_analyze", Family.TableFormat, (s, dir) => {
      import s.implicits._
      val store = Scratch.store(s)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 10 === 0, lit(null).cast("string"))
            .otherwise(col("lang")).as("lang_nullable"))
      store.commit("d", docs.filter(col("doc_id") % 3 === 0), "create")
      store.analyzeTable("d")
      store.append("d", docs.filter(col("doc_id") % 3 =!= 0))
      store.analyzeIncremental("d")
      val (_, rc, cols) = store.columnStats("d").get
      cols.sortBy(_._1).toDF("col_name", "n_nulls", "ndv", "max_freq")
        .withColumn("n_rows", lit(rc))
        .orderBy(col("col_name"))
    }, oracleSql =
      // Merged stats replay: nulls/rows exact over the union, NDV = the
      // full-table KMV (register merge is exact), max_freq = the sum of the
      // base (doc_id%3=0) and delta (doc_id%3<>0) parts' maxima.
      """WITH base AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS lang_nullable
        |  FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS rc FROM base),
        |dh AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h
        |  FROM base),
        |dhk AS (SELECT MAX(h) AS hk FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM dh)
        |  WHERE rn <= 256),
        |stats AS (
        |  SELECT 'doc_id' AS col_name, 0 AS n_nulls,
        |    CASE WHEN (SELECT COUNT(*) FROM dh) < 256
        |         THEN (SELECT COUNT(*) FROM dh)
        |         ELSE (255 * 281474976710656)
        |              // greatest((SELECT hk FROM dhk), 1) END AS ndv,
        |    COALESCE((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       WHERE doc_id % 3 = 0 GROUP BY doc_id)), 0)
        |    + COALESCE((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       WHERE doc_id % 3 <> 0 GROUP BY doc_id)), 0) AS max_freq
        |  UNION ALL
        |  SELECT 'lang_nullable',
        |    SUM(CASE WHEN lang_nullable IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT lang_nullable),
        |    COALESCE((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       WHERE doc_id % 3 = 0 AND lang_nullable IS NOT NULL
        |       GROUP BY lang_nullable)), 0)
        |    + COALESCE((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       WHERE doc_id % 3 <> 0 AND lang_nullable IS NOT NULL
        |       GROUP BY lang_nullable)), 0)
        |  FROM base
        |  UNION ALL
        |  SELECT 'source', 0, COUNT(DISTINCT source),
        |    COALESCE((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       WHERE doc_id % 3 = 0 AND source IS NOT NULL
        |       GROUP BY source)), 0)
        |    + COALESCE((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM base
        |       WHERE doc_id % 3 <> 0 AND source IS NOT NULL
        |       GROUP BY source)), 0)
        |  FROM base)
        |SELECT col_name, CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(ndv AS BIGINT) AS ndv, CAST(max_freq AS BIGINT) AS max_freq,
        |  (SELECT rc FROM n) AS n_rows
        |FROM stats ORDER BY col_name""".stripMargin)
  )
}
