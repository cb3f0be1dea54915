package graft
package queries

import graft.GraftSession.withConf
import graft.core.TableStore

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Support._

/** The table format through SQL over a GraftCatalog: DDL, row-level
  * writes, pruning, metadata tables, constraints, column features. */
object TableSqlQueries {

  val all: Seq[Query] = Seq(
    // SQL partitioned DDL (reference create_iceberg_tpcds.py:27-33
    // PARTITIONED BY): CREATE TABLE … PARTITIONED BY + INSERT INTO lays
    // rows out in identity-partition directories via the clustered DSv2
    // write; the filtered read then scans only the matching partition's
    // files (partition_exact proves kept == that partition's files and
    // < total — runtime evidence of partition-exact pruning via SQL).
    Query("q62_sql_partitioned", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      s.sql(s"CREATE TABLE $cat.ns.ev (event_id BIGINT, event_type STRING, " +
        "value DOUBLE) PARTITIONED BY (event_type)")
      s.sql(s"INSERT INTO $cat.ns.ev SELECT event_id, event_type, value " +
        s"FROM parquet.`$dir/events.parquet`")
      val m = store.manifests("ev").maxBy(_.version)
      val expected = m.files.count(_.partitionValues.get("event_type").contains("click"))
      val (kept, total) = store.prunedFileCount("ev", "event_type", "click", "click")
      s.sql(s"SELECT count(*) AS n_rows, CAST(sum(CAST(value AS DECIMAL(18,2))) " +
        s"AS DOUBLE) AS sum_value FROM $cat.ns.ev WHERE event_type = 'click'")
        .withColumn("partition_exact",
          lit(expected > 0 && kept == expected && kept < total))
    }, oracleSql =
      """SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | CAST(TRUE AS BOOLEAN) AS partition_exact
        |FROM events WHERE event_type = 'click'""".stripMargin),

    // Runtime (dynamic) file pruning on the READ path: a star join whose
    // fact-side filter arrives only through a dimension (the `tag` column
    // exists solely as dim data, so no static constraint can propagate).
    // Spark plans a dynamic-pruning subquery over the scan's
    // filterAttributes; GraftStatsScan.filter drops fact files whose
    // manifest key range no surviving dim key touches — the reference's
    // partitioned-fact headline (docs/README.md:326-329). runtime_pruned
    // is computed from the EXECUTED plan: fact files scanned < committed.
    Query("q63_runtime_pruning", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("fact", Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey")), "create")
      store.commit("dim", Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") <= 300, "hot").otherwise("cold").as("tag")),
        "create")
      val q = s.sql(
        s"""SELECT count(*) AS n_rows,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM $cat.ns.fact f JOIN $cat.ns.dim d ON f.l_orderkey = d.o_orderkey
           |WHERE d.tag = 'hot'""".stripMargin)
      val row = q.collect().head
      val kept = collectGraftScans(q.queryExecution.executedPlan)
        .filter(_.table == "fact").map(_.currentFileCount).minOption.getOrElse(-1)
      val total = store.manifests("fact").maxBy(_.version).files.size
      import s.implicits._
      Seq((row.getLong(0), row.getDouble(1), kept >= 0 && kept < total))
        .toDF("n_rows", "sum_qty", "runtime_pruned")
    }, oracleSql =
      """SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(TRUE AS BOOLEAN) AS runtime_pruned
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey <= 300""".stripMargin),

    // §2A A14 via SQL: the DSv2 GraftCatalog resolves store tables in
    // plain SQL incl. `VERSION AS OF` time travel.
    Query("q44_sql_catalog", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      val ev = Tables.load(s, dir, "events")
      store.commit("ev", ev.filter(col("ts") < lit("2024-01-15")), "create")
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-15")))
      s.sql(
        s"""SELECT (SELECT count(*) FROM $cat.ns.ev VERSION AS OF 1) AS v1_n_rows,
           |       count(*) AS v2_n_rows,
           |       (SELECT count(*) FROM $cat.ns.`ev$$history`) AS n_snapshots
           |FROM $cat.ns.ev""".stripMargin)
    }, oracleSql =
      """SELECT
        | (SELECT count(*) FROM events WHERE ts < TIMESTAMP '2024-01-15') AS v1_n_rows,
        | count(*) AS v2_n_rows,
        | CAST(2 AS BIGINT) AS n_snapshots
        |FROM events""".stripMargin),

    // §2A A4/A5/A11-13 via pure SQL: CTAS → INSERT INTO (metadata-only
    // append) → 3-branch MERGE INTO (file-level copy-on-write through
    // SupportsRowLevelOperations) — the reference's headline write surface
    // (athena_functions.py:60-97 CTAS; updating_db_with_deltas_iceberg
    // .ipynb cell 26 MERGE), then an aggregate over the final table state.
    Query("q48_sql_writes", Family.TableFormat, (s, dir) => {
      val (_, cat) = Scratch.catalog(s)
      val src = s"parquet.`$dir/orders.parquet`"
      s.sql(
        s"""CREATE TABLE $cat.ns.ord AS
           |SELECT o_orderkey, o_orderstatus,
           |       CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM $src WHERE o_orderkey % 4 IN (0, 1)""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.ns.ord
           |SELECT o_orderkey, o_orderstatus,
           |       CAST(o_totalprice AS DECIMAL(18,2))
           |FROM $src WHERE o_orderkey % 4 = 2""".stripMargin)
      s.sql(
        s"""MERGE INTO $cat.ns.ord t
           |USING (SELECT o_orderkey, o_orderstatus,
           |              CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |       FROM $src WHERE o_orderkey % 4 IN (1, 3)) s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.o_orderkey % 8 = 1 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.price = t.price + 100
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n,
           |       CAST(sum(price) AS DOUBLE) AS total
           |FROM $cat.ns.ord GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }, oracleSql =
      // Final state of the CTAS → INSERT → 3-branch MERGE pipeline, as one
      // SELECT: k%4∈{0,2} original, k%4=1 updated (+100) unless k%8=1
      // (deleted), k%4=3 inserted.
      """WITH finalt AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 8 = 5 THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
        |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
        |  FROM orders
        |  WHERE o_orderkey % 4 IN (0, 2, 3)
        |     OR (o_orderkey % 4 = 1 AND o_orderkey % 8 = 5))
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM finalt GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // SQL UPDATE + DELETE through the file-level copy-on-write row-level
    // operation path (runtime-group-filtered), then the final state.
    Query("q57_sql_update_delete", Family.TableFormat, (s, dir) => {
      val (_, cat) = Scratch.catalog(s)
      val src = s"parquet.`$dir/orders.parquet`"
      s.sql(
        s"""CREATE TABLE $cat.ns.ord AS
           |SELECT o_orderkey, o_orderstatus,
           |       CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM $src""".stripMargin)
      s.sql(s"UPDATE $cat.ns.ord SET price = price * 2 WHERE o_orderstatus = 'P'")
      s.sql(s"DELETE FROM $cat.ns.ord WHERE o_orderkey % 10 = 3")
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total
           |FROM $cat.ns.ord GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }, oracleSql =
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |           THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |           ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 10 <> 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Schema evolution lifecycle via SQL: CTAS → ALTER TABLE ADD COLUMN
    // (metadata-only; old files read the column as null) → INSERT with the
    // new column → aggregate over the union of both generations.
    Query("q58_schema_evolution", Family.TableFormat, (s, dir) => {
      val (_, cat) = Scratch.catalog(s)
      val src = s"parquet.`$dir/orders.parquet`"
      s.sql(
        s"""CREATE TABLE $cat.ns.ord AS
           |SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
           |FROM $src WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql(s"ALTER TABLE $cat.ns.ord ADD COLUMN channel STRING")
      s.sql(
        s"""INSERT INTO $cat.ns.ord
           |SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)), 'late'
           |FROM $src WHERE o_orderkey % 2 = 1""".stripMargin)
      s.sql(
        s"""SELECT COALESCE(channel, 'legacy') AS channel, count(*) AS n,
           |       CAST(sum(price) AS DOUBLE) AS total
           |FROM $cat.ns.ord GROUP BY 1 ORDER BY 1""".stripMargin)
    }, oracleSql =
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN 'late' ELSE 'legacy' END AS channel,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Dynamic partition overwrite (Iceberg's overwrite semantics; the
    // daily re-materialization pattern): events ingested partitioned on
    // event_type, then `INSERT OVERWRITE` under partitionOverwriteMode=
    // dynamic rewrites ONE partition (the lexicographically-first type,
    // value+500) — every other partition must keep its ORIGINAL files
    // (`untouched_kept`, a metadata-only decision over the manifest), and
    // the final state must match the batch oracle exactly.
    Query("q91_dynamic_overwrite", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val view = s"q91_ev_${System.nanoTime()}"
      ev.createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.ns.ev PARTITIONED BY (event_type) " +
        s"AS SELECT * FROM $view")
      val minType = s.sql(s"SELECT min(event_type) FROM $view").head.getString(0)
      val store = new TableStore(s, wh)
      def otherFiles(): Set[String] =
        store.manifests("ev").maxBy(_.version).files
          .filterNot(_.partitionValues.get("event_type").contains(minType))
          .map(_.path).toSet
      val before = otherFiles()
      withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        s.sql(s"INSERT OVERWRITE $cat.ns.ev " +
          s"SELECT event_id, event_type, value + 500 AS value " +
          s"FROM $view WHERE event_type = '$minType'")
      }
      val untouchedKept = otherFiles() == before &&
        store.manifests("ev").maxBy(_.version).operation == "overwrite_dynamic"
      s.table(s"$cat.ns.ev")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("untouched_kept", lit(untouchedKept))
        .orderBy(col("event_type"))
    }, oracleSql =
      // One partition's rows re-materialized at value+500, the rest original.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_type = (SELECT min(event_type) FROM events)
        |       THEN CAST(value AS DECIMAL(18,2)) + 500
        |       ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value,
        |  true AS untouched_kept
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Metadata-only aggregates (Iceberg's `SELECT count(*)` answer): an
    // unfiltered, ungrouped COUNT(*)/MIN/MAX over a catalog table is
    // served from the manifest's footer-harvested row counts and min/max
    // — the plan collapses to a LocalTableScan and reads ZERO data files
    // at ANY table size (`metadata_only` asserts no scan node survives in
    // the executed plan). Values must still match the DuckDB oracle
    // exactly, proving the stats round-trip the data.
    Query("q92_metadata_agg", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev.filter(col("ts") < lit("2024-01-15")), "create")
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-15")))
      val agg = s.sql(
        s"""SELECT COUNT(*) AS n_rows, MIN(event_id) AS min_id,
           |  MAX(event_id) AS max_id, MAX(value) AS max_value,
           |  MIN(event_type) AS first_type, MAX(event_type) AS last_type
           |FROM $cat.ns.ev""".stripMargin)
      // MIN(value) is deliberately absent: a float/double extreme of ±0.0
      // is un-pushable (parquet widens zero bounds in footer stats), so a
      // zero data minimum would legitimately fall back to a scan and make
      // this anchor's metadata_only flag scale-dependent.
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        p +: (p match {
          case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
          case st: QueryStageExec => nodes(st.plan)
          case o => o.children.flatMap(nodes)
        })
      }
      val metadataOnly = !nodes(agg.queryExecution.executedPlan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec])
      agg.withColumn("metadata_only", lit(metadataOnly))
    }, oracleSql =
      // The manifest-served aggregate must equal the data's true aggregate.
      // (No MIN(value): a ±0.0 float extreme is un-pushable — parquet widens
      // zero bounds — so it would make the metadata_only flag scale-vary.)
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(event_id) AS BIGINT) AS min_id,
        |  CAST(MAX(event_id) AS BIGINT) AS max_id,
        |  CAST(MAX(value) AS DOUBLE) AS max_value,
        |  MIN(event_type) AS first_type, MAX(event_type) AS last_type,
        |  true AS metadata_only
        |FROM events""".stripMargin),

    // Metadata-only aggregates, grouped: COUNT/MIN/MAX GROUP BY an
    // identity partition column — each partitioned file holds exactly one
    // partition tuple, so grouping files by tuple IS grouping rows by
    // value, and the per-partition answer is a driver-side manifest fold
    // (Iceberg's `$partitions` rollup as a plain SQL GROUP BY). Still
    // zero data files read; values must hash-match the DuckDB oracle.
    Query("q93_metadata_agg_grouped", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (_, cat) = Scratch.catalog(s)
      val view = s"q93_ev_${System.nanoTime()}"
      ev.createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.ns.ev PARTITIONED BY (event_type) " +
        s"AS SELECT * FROM $view")
      val agg = s.sql(
        s"""SELECT event_type, COUNT(*) AS n, MAX(value) AS max_value,
           |  MIN(event_id) AS min_id
           |FROM $cat.ns.ev GROUP BY event_type""".stripMargin)
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        p +: (p match {
          case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
          case st: QueryStageExec => nodes(st.plan)
          case o => o.children.flatMap(nodes)
        })
      }
      val metadataOnly = !nodes(agg.queryExecution.executedPlan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec])
      agg.withColumn("metadata_only", lit(metadataOnly))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Per-partition manifest fold must equal the true grouped aggregate.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(value) AS DOUBLE) AS max_value,
        |  CAST(MIN(event_id) AS BIGINT) AS min_id,
        |  true AS metadata_only
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // SQL reads over a merge-on-read table: the DSv2 scan applies the
    // equality deletes itself (per-sequence-group parquet scans + a
    // broadcast delete filter — GraftMorScan), so the same q88 CDC state
    // is read through plain `spark.sql` with NO compaction. `mor_scan`
    // asserts the plan actually went through the MoR scan and that no
    // base data file was rewritten.
    Query("q95_mor_sql_read", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
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
      val agg = s.sql(
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ns.ev GROUP BY event_type""".stripMargin)
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        p +: (p match {
          case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
          case st: QueryStageExec => nodes(st.plan)
          case o => o.children.flatMap(nodes)
        })
      }
      val morScanUsed = nodes(agg.queryExecution.executedPlan).exists {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.isInstanceOf[org.apache.spark.sql.graft.GraftMorScan]
        case _ => false
      }
      val m = store.manifests("ev").maxBy(_.version)
      val morOk = morScanUsed &&
        v1Files.subsetOf(m.files.map(_.path).toSet) && m.deleteFiles.size >= 3
      agg.withColumn("mor_scan", lit(morOk)).orderBy(col("event_type"))
    }, oracleSql =
      // Same last-image-wins state as q88, read through SQL with no compact.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_id % 100 = 1
        |       THEN CAST(value AS DECIMAL(18,2)) + 200
        |       ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value,
        |  true AS mor_scan
        |FROM events WHERE event_id % 100 <> 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Storage-partitioned SQL write: INSERT INTO a bucket-partitioned
    // table resolves the catalog's `bucket(n, key)` V2 function for write
    // clustering (Spark shuffles by OUR md5 arithmetic) and the writer
    // derives each row's bucket directory — so SQL-written files land one
    // per touched bucket with the exact layout library writes produce.
    // `bucketed_ok` asserts every staged file carries a bucket value,
    // clustering held (files == touched buckets, not tasks × buckets),
    // and a key lookup prunes; the read-back must equal the oracle.
    Query("q96_bucket_sql_write", Family.TableFormat, (s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      val bc = TableStore.bucketColumn("o_orderkey", 32)
      store.commit("ord", o.limit(0), "create")
      store.setPartitionSpec("ord", Seq(bc))
      val view = s"q96_o_${System.nanoTime()}"
      o.createOrReplaceTempView(view)
      s.sql(s"INSERT INTO $cat.ns.ord SELECT * FROM $view")
      val staged = store.manifests("ord").maxBy(_.version)
        .files.filter(_.path.contains("__p_"))
      val buckets = staged.flatMap(_.partitionValues.get(bc)).toSet
      val (hit, untouched) =
        store.filesHitByKeys("ord", "o_orderkey", Seq(1L).toDF("o_orderkey"))
      val bucketedOk = staged.nonEmpty &&
        staged.forall(_.partitionValues.contains(bc)) &&
        staged.size == buckets.size &&      // one file per touched bucket
        untouched.nonEmpty && hit.size < staged.size
      s.table(s"$cat.ns.ord")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsumd(col("o_totalprice")).as("total"))
        .withColumn("bucketed_ok", lit(bucketedOk))
        .orderBy(col("o_orderstatus"))
    }, oracleSql =
      // The SQL-bucketed table must read back as plain orders.
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  true AS bucketed_ok
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Storage-partitioned JOIN (Iceberg's SPJ): orders and lineitem are
    // ingested co-bucketed on their order key (32 md5 buckets); with
    // v2 bucketing enabled both scans report bucket(32, key)
    // KeyGroupedPartitioning through the catalog's bucket() function and
    // Spark plans the fact-fact equi-join with ZERO shuffle below the
    // join — the repeated-big-join answer at 100 TB, where re-shuffling
    // both sides every run dwarfs the join itself. `spj_zero_shuffle`
    // asserts no exchange exists under the join node; the aggregate above
    // still shuffles normally and must match the oracle exactly.
    Query("q97_spj_join", Family.TableFormat, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commitBucketed("ord", o, "o_orderkey", numBuckets = 32, "create")
      store.commitBucketed("li", l, "l_orderkey", numBuckets = 32, "create")
      withConf(s,
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
        val joined = s.sql(
          s"""SELECT o.o_orderstatus, l.l_extendedprice
             |FROM $cat.ns.ord o JOIN $cat.ns.li l
             |  ON o.o_orderkey = l.l_orderkey""".stripMargin)
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
        def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
        val plan = joined.queryExecution.executedPlan
        val joinNodes = nodes(plan).filter(n =>
          n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[ShuffledHashJoinExec])
        val zeroShuffle = joinNodes.nonEmpty && joinNodes.forall(j =>
          !nodes(j).exists(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]))
        joined
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsumd(col("l_extendedprice")).as("revenue"))
          .withColumn("spj_zero_shuffle", lit(zeroShuffle))
          .orderBy(col("o_orderstatus"))
          // materialize INSIDE the conf window so the exec plan is SPJ's
          .localCheckpoint(true)
      }
    }, oracleSql =
      // The co-bucketed zero-shuffle join must agree with a plain join.
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  true AS spj_zero_shuffle
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // format: row-level SQL writes over a merge-on-read table — the
    // rewrite's scan reads THROUGH the equality deletes (dead rows are
    // never copied into replacement files), and the commit drops every
    // delete file the rewrite made dead. DELETE runs against one MoR
    // overlay (and, being unboundable by stats, rewrites every file —
    // shearing the overlay off entirely, asserted in `mor_write_ok`);
    // MERGE then runs against a SECOND overlay, where a dead key must
    // plan as NOT MATCHED and re-insert.
    Query("q100_mor_sql_write", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev, "create")
      store.upsertMoR("ev",
        ev.filter(col("event_id") % 100 === 1)
          .select(col("event_id"), col("event_type"),
            (col("value") + 100.0).as("value")),
        Seq("event_id"))
      store.deleteKeysMoR("ev",
        ev.filter(col("event_id") % 100 === 2).select(col("event_id")),
        Seq("event_id"))
      // CoW DELETE through the MoR view: %100=3 rows go; the dead %100=2
      // rows and the stale %100=1 images must NOT resurrect.
      s.sql(s"DELETE FROM $cat.ns.ev WHERE event_id % 100 = 3")
      val overlayGone =
        store.manifests("ev").maxBy(_.version).deleteFiles.isEmpty
      // a fresh overlay for the MERGE to read through
      store.upsertMoR("ev",
        ev.filter(col("event_id") % 100 === 4)
          .select(col("event_id"), col("event_type"),
            (col("value") + 300.0).as("value")),
        Seq("event_id"))
      val src = s"ev_src_$cat"
      ev.filter(col("event_id") % 100 === 2 || col("event_id") % 100 === 5)
        .select(col("event_id"), col("event_type"),
          (col("value") + 500.0).as("value"))
        .createOrReplaceTempView(src)
      s.sql(
        s"""MERGE INTO $cat.ns.ev t USING $src s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET t.value = s.value
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ns.ev GROUP BY event_type""".stripMargin)
        .withColumn("mor_write_ok", lit(overlayGone))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Final state after: +100 upsert (%100=1), MoR delete (%100=2), SQL
      // DELETE (%100=3), +300 upsert (%100=4), MERGE upsert +500 (%100∈{2,5}
      // — the dead 2s re-insert, the live 5s update).
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CASE
        |    WHEN event_id % 100 = 1 THEN value + 100.0
        |    WHEN event_id % 100 = 2 THEN value + 500.0
        |    WHEN event_id % 100 = 4 THEN value + 300.0
        |    WHEN event_id % 100 = 5 THEN value + 500.0
        |    ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS mor_write_ok
        |FROM events WHERE event_id % 100 <> 3
        |GROUP BY event_type""".stripMargin),

    // format: merge-on-read minor compaction (`rewrite_delete_files`) —
    // consolidate the equality-delete overlay (dedup keys to their max
    // sequence, merge sequence classes masking the same file set, drop
    // dangling ones) WITHOUT touching a data file: the maintenance action
    // a continuous CDC stream needs when per-epoch delete files accrete
    // into a read-time tax. The anchor builds a 4-commit overlay with a
    // duplicated key, CALLs the procedure, and must read identically
    // through the consolidated overlay — with fewer delete files and
    // byte-identical data files.
    Query("q101_rewrite_delete_files", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev, "create")
      store.upsertMoR("ev",
        ev.filter(col("event_id") % 100 === 1)
          .select(col("event_id"), col("event_type"),
            (col("value") + 100.0).as("value")),
        Seq("event_id"))
      store.deleteKeysMoR("ev",
        ev.filter(col("event_id") % 100 === 2).select(col("event_id")),
        Seq("event_id"))
      store.deleteKeysMoR("ev",
        ev.filter(col("event_id") % 100 === 3).select(col("event_id")),
        Seq("event_id"))
      // same keys again at a later sequence: max-collapse is exercised
      store.upsertMoR("ev",
        ev.filter(col("event_id") % 100 === 1)
          .select(col("event_id"), col("event_type"),
            (col("value") + 200.0).as("value")),
        Seq("event_id"))
      val dataBefore = store.manifests("ev").maxBy(_.version).files.map(_.path).toSet
      val r = s.sql(
        s"CALL $cat.system.rewrite_delete_files(`table` => 'ev')").head()
      val mAfter = store.manifests("ev").maxBy(_.version)
      val consolidated = r.getLong(2) < r.getLong(1) &&
        mAfter.files.map(_.path).toSet == dataBefore &&
        mAfter.deleteFiles.nonEmpty
      s.sql(
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ns.ev GROUP BY event_type""".stripMargin)
        .withColumn("consolidated", lit(consolidated))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Overlay consolidation changes no visible row: +100 then +200
      // upserts on %100=1 (last image wins), %100∈{2,3} MoR-deleted.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CASE
        |    WHEN event_id % 100 = 1 THEN value + 200.0
        |    ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS consolidated
        |FROM events WHERE event_id % 100 NOT IN (2, 3)
        |GROUP BY event_type""".stripMargin),

    // format: `add_files` in-place migration — adopt the fixture's OWN
    // parquet file as a snapshot without copying a byte (the only sane
    // 100 TB ingest for an already-parquet corpus: one manifest write vs
    // a full CTAS rewrite). The adopted file is referenced by absolute
    // URI, footer-stat harvested (prunable like native files), and
    // composes with a native append; expiry must never delete it (the
    // table borrows the file, it does not own it).
    Query("q102_add_files", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      val srcPath = new org.apache.hadoop.fs.Path(dir, "events.parquet")
      val srcFs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      s.sql(s"CALL $cat.system.add_files(`table` => 'ev', " +
        s"source => '${srcPath.toString}')").collect()
      val m1 = store.manifests("ev").maxBy(_.version)
      // metadata-only: every adopted path is external, nothing was copied
      val adoptedExternal = m1.files.nonEmpty &&
        m1.files.forall(fe => TableStore.isExternalPath(fe.path))
      // native append over the adopted snapshot (metadata-only carry)
      store.append("ev", ev.filter(col("event_id") <= 100)
        .withColumn("value", col("value") + 1000.0))
      // expiring the adopted-only snapshot must not touch the source file
      store.expireSnapshots("ev", keepLast = 1)
      val sourceIntact = srcFs.exists(srcPath)
      s.sql(
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ns.ev GROUP BY event_type""".stripMargin)
        .withColumn("adopted_external", lit(adoptedExternal))
        .withColumn("source_intact", lit(sourceIntact))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Adopted fixture + native append of event_id<=100 at value+1000.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS adopted_external, true AS source_intact
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT event_type, value + 1000.0 AS value FROM events
        |      WHERE event_id <= 100)
        |GROUP BY event_type""".stripMargin),

    // format: CHECK constraints (Delta-style) — a named SQL predicate
    // validated against existing rows at ADD time, then enforced PER ROW
    // inside every write job (append / SQL INSERT / MoR upsert): the
    // violating batch aborts pre-commit and the table is untouched. The
    // anchor adds a constraint via CALL, proves a violating SQL INSERT
    // and a violating append both bounce (state unchanged), lands a
    // conforming delta, and reads back the final state.
    Query("q106_check_constraints", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev, "create")
      s.sql(s"CALL $cat.system.add_check_constraint(`table` => 'ev', " +
        "name => 'known_type', " +
        "predicate => 'event_type IN (''click'',''signup'',''error''," +
        "''view'',''purchase'')')").collect()
      val vBefore = store.currentVersion("ev")
      val sqlRejected =
        try { s.sql(s"INSERT INTO $cat.ns.ev VALUES (-1, 'bogus', 1.0)"); false }
        catch { case _: Exception => true }
      val apiRejected =
        try {
          store.append("ev", ev.limit(1)
            .withColumn("event_type", lit("unknown")))
          false
        } catch { case _: Exception => true }
      val untouched = store.currentVersion("ev") == vBefore
      // conforming delta: re-tag low ids as more purchases
      store.append("ev", ev.filter(col("event_id") <= 100)
        .withColumn("event_type", lit("purchase")))
      s.sql(
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ns.ev GROUP BY event_type""".stripMargin)
        .withColumn("writes_rejected", lit(sqlRejected && apiRejected && untouched))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Final state: fixture + conforming purchase re-tag of event_id<=100
      // (both violating writes bounced without a trace).
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS writes_rejected
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT 'purchase' AS event_type, value FROM events
        |      WHERE event_id <= 100)
        |GROUP BY event_type""".stripMargin),

    // format: standing write sort order (Iceberg `WRITE ORDERED BY`) —
    // declared once via CALL, every subsequent write range-clusters and
    // sorts on the columns, so files cover narrow disjoint ranges and
    // min/max pruning works on every future scan without maintenance
    // rewrites. The anchor proves a point lookup skips files of the
    // ordered append and that content is untouched.
    Query("q108_write_order", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev.filter(col("event_id") <= 10), "create")
      s.sql(s"CALL $cat.system.set_write_order(`table` => 'ev', " +
        "columns => 'event_id')").collect()
      // a deliberately shuffled batch: md5 order destroys id locality
      store.append("ev", ev.filter(col("event_id") > 10)
        .orderBy(md5(col("event_id").cast("string"))).repartition(8))
      val (kept, total) = store.prunedFileCount("ev", "event_id",
        9000L, 10000L)
      val pruned = total >= 2 && kept < total
      s.sql(
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ns.ev GROUP BY event_type""".stripMargin)
        .withColumn("pruned", lit(pruned))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Ordered-write layout changes no visible row.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS pruned
        |FROM events GROUP BY event_type""".stripMargin),

    // format: writable branch refs — the multi-commit write-audit-publish
    // (Iceberg snapshot branching + fast_forward): two commits accumulate
    // on a branch while main serves the untouched fork snapshot; audit
    // reads the branch head; fast_forward publishes the chain as real
    // main versions metadata-only (files referenced in place) and
    // REFUSES a diverged main.
    Query("q110_branch_fast_forward", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev, "create")
      s.sql(s"CALL $cat.system.create_branch(`table` => 'ev', " +
        "name => 'staging')").collect()
      store.appendToBranch("ev", "staging",
        ev.filter(col("event_id") <= 100)
          .withColumn("value", col("value") + 100.0))
      store.appendToBranch("ev", "staging",
        ev.filter(col("event_id") > 100 && col("event_id") <= 200)
          .withColumn("value", col("value") + 200.0))
      // main still serves the fork snapshot while the branch accumulates
      val mainIsolated = store.read("ev").count() == ev.count() &&
        store.currentVersion("ev") == 1L
      val r = s.sql(s"CALL $cat.system.fast_forward(`table` => 'ev', " +
        "name => 'staging')").head()
      val published = r.getLong(2) == 2L
      s.sql(
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ns.ev GROUP BY event_type""".stripMargin)
        .withColumn("branch_ok", lit(mainIsolated && published))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Fixture + the branch's two published appends (+100 for id<=100,
      // +200 for 100<id<=200).
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS branch_ok
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT event_type, value + 100.0 FROM events WHERE event_id <= 100
        |      UNION ALL
        |      SELECT event_type, value + 200.0 FROM events
        |      WHERE event_id > 100 AND event_id <= 200)
        |GROUP BY event_type""".stripMargin),

    // catalog: persisted SQL views — `CALL create_view` stores the SQL
    // in the warehouse and registers it for plain `SELECT * FROM v`;
    // the registration stores the UNANALYZED plan, so the view expands
    // over the LIVE tables and reflects an append made after its
    // creation without recreation. Metadata-only at any table size.
    // (Upstream Spark has no DSv2 ViewCatalog DDL wiring — Iceberg
    // routes CREATE VIEW through its own session extensions — so the
    // portable surface is the procedure.)
    Query("q113_sql_views", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
      store.commit("ev", ev.filter(col("event_id") <= maxId / 2), "create")
      val vn = s"${cat}_by_type"
      s.sql(s"CALL $cat.system.create_view(name => '$vn', sql => " +
        s"'SELECT event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        s"FROM $cat.ns.ev GROUP BY event_type')").collect()
      val listed =
        graft.catalog.GraftViews.list(s, wh).contains(vn)
      // the view must reflect data appended AFTER its creation
      store.append("ev", ev.filter(col("event_id") > maxId / 2))
      s.sql(s"SELECT * FROM $vn")
        .withColumn("view_listed", lit(listed))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The view aggregates the FULL fixture (second half appended after
      // CREATE VIEW — views expand over live tables).
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS view_listed
        |FROM events GROUP BY event_type""".stripMargin),

    // format: zero-copy shallow clone (Delta SHALLOW CLONE / Iceberg
    // `snapshot`) — one manifest write referencing the source's files by
    // absolute URI at ANY source size; the clone evolves independently
    // (its append never shows in the source) and its maintenance never
    // deletes the borrowed files.
    Query("q117_shallow_clone", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev, "create")
      s.sql(s"CALL $cat.system.clone_table(source => 'ev', " +
        "target => 'ev_clone')").collect()
      val cm = store.manifests("ev_clone").maxBy(_.version)
      val zeroCopy = cm.operation == "clone" &&
        cm.files.forall(fe => TableStore.isExternalPath(fe.path))
      // the clone diverges; the source must not see the append
      store.append("ev_clone", ev.filter(col("event_id") <= 100)
        .withColumn("value", col("value") + 700.0))
      val sourceIsolated = store.read("ev").count() == ev.count()
      s.sql(
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ns.ev_clone GROUP BY event_type""".stripMargin)
        .withColumn("zero_copy", lit(zeroCopy && sourceIsolated))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The clone = fixture + its own +700 append of event_id<=100.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS zero_copy
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT event_type, value + 700.0 AS value FROM events
        |      WHERE event_id <= 100)
        |GROUP BY event_type""".stripMargin),

    // Hidden partitioning (Iceberg's headline UX): the table is
    // PARTITIONED BY days(ts) — a TRANSFORM of the timestamp the user
    // never materializes or filters on. The DSv2 write derives the day at
    // write time (clustered via the catalog's `days` function, one file
    // per day), and a plain `WHERE ts BETWEEN …` range prunes whole day
    // files through the derived partition value (TransformPruning maps
    // the ts bounds to day-string bounds; timestamps alone have no
    // orderable footer-stat story here). hidden_prune asserts the
    // EXECUTED scan read fewer files than the table holds.
    Query("q118_hidden_partitioning", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      s.sql(s"CREATE TABLE $cat.ns.ev (event_id BIGINT, ts TIMESTAMP, " +
        "event_type STRING, value DOUBLE) PARTITIONED BY (days(ts))")
      s.sql(s"INSERT INTO $cat.ns.ev SELECT event_id, ts, event_type, " +
        s"value FROM parquet.`$dir/events.parquet`")
      val m = store.manifests("ev").maxBy(_.version)
      val dcol = TableStore.daysColumn("ts")
      val layoutOk = m.partitionBy == Seq(dcol) && m.files.nonEmpty &&
        m.files.forall(_.partitionValues.get(dcol).exists(
          _.matches("\\d{4}-\\d{2}-\\d{2}")))
      val q = s.sql(
        s"""SELECT event_type, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ns.ev
           |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
           |GROUP BY event_type""".stripMargin)
      val rows = q.collect()
      val kept = collectGraftScans(q.queryExecution.executedPlan)
        .map(_.currentFileCount).minOption.getOrElse(-1)
      val pruned = kept >= 0 && kept < m.files.size
      import s.implicits._
      rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          layoutOk && pruned))
        .toDF("event_type", "n_rows", "total_value", "hidden_prune")
        .orderBy(col("event_type"))
    }, oracleSql =
      // The days(ts) layout must not change WHAT the range query returns —
      // only how many files it reads (hidden_prune is runtime evidence).
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS hidden_prune
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type""".stripMargin),

    // format: SQL reads over POSITIONAL deletes, mixed with equality
    // deletes, without CALL compact — row positions come from the parquet
    // readers' row-index column (true within-file indexes, immune to
    // row-group skipping), so the scan keeps predicate pushdown and
    // per-split parallelism while anti-filtering the broadcast (file,pos)
    // mask; the equality lookup applies sequence semantics; parquet
    // vectorization survives via the per-batch row-id mapping. The anchor
    // asserts the plan used GraftPosMorScan AND stayed columnar, then
    // aggregates through it.
    Query("q133_pos_delete_sql", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev, "create")
      store.deleteWhereMoR("ev", "event_type = 'error'")      // positional
      store.deleteKeysMoR("ev",                               // + equality
        ev.filter(col("event_id") % 13 === 0).select(col("event_id")),
        Seq("event_id"))
      val df = s.sql(s"SELECT event_type, COUNT(*) AS n, " +
        "SUM(CAST(value AS DECIMAL(18,2))) AS total_value " +
        s"FROM $cat.ns.ev GROUP BY event_type")
      df.collect() // finalize AQE so the scan nodes are inspectable
      def walk(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case o => o.children
        }
        p +: kids.flatMap(walk)
      }
      val scans = walk(df.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[org.apache.spark.sql.graft.GraftPosMorScan] => b
      }
      df.withColumn("pos_scan_columnar",
          lit(scans.nonEmpty && scans.forall(_.supportsColumnar)))
        .withColumn("total_value", col("total_value").cast("double"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The delete view in plain SQL: positional deletes masked every
      // 'error' row present at delete time (nothing appended after), the
      // equality deletes masked event_id % 13 = 0 in the base files.
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS pos_scan_columnar
        |FROM events
        |WHERE event_type <> 'error' AND event_id % 13 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // table-format: delete-vector consolidation (q153) — four predicate
    // deletes accrete four positional delete files (with overlapping
    // positions); CALL rewrite_position_deletes rewrites the overlay into
    // ONE deduped (file,pos)-sorted delete set, data files untouched, and
    // the SQL read (per-file roaring-bitmap masks) returns the same rows.
    // The in-query assertions pin the mechanism: exactly one positional
    // entry afterwards, same data files, mask rows == distinct deletions.
    Query("q153_delete_vectors", Family.TableFormat, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev, "create")
      store.deleteWhereMoR("ev", "event_type = 'error'")
      store.deleteWhereMoR("ev", "event_id % 500 = 3")
      store.deleteWhereMoR("ev", "event_id % 1000 = 503") // subset of above
      store.deleteWhereMoR("ev", "value < -0.9")
      val before = store.manifests("ev").maxBy(_.version)
      store.rewritePositionDeletes("ev")
      val after = store.manifests("ev").maxBy(_.version)
      val consolidated =
        after.deleteFiles.count(graft.core.TableStore.isPositional) == 1 &&
        after.files.map(_.path) == before.files.map(_.path) &&
        after.operation == "rewrite_position_deletes"
      s.sql(s"SELECT event_type, COUNT(*) AS n, " +
          "SUM(CAST(value AS DECIMAL(18,2))) AS total_value " +
          s"FROM $cat.ns.ev GROUP BY event_type")
        .withColumn("consolidated", lit(consolidated))
        .withColumn("total_value", col("total_value").cast("double"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The four positional predicates (one subsumed), replayed as plain
      // filters — the consolidated delete-vector read must match.
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS consolidated
        |FROM events
        |WHERE event_type <> 'error' AND event_id % 500 <> 3
        |  AND NOT (value < -0.9)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Top-k pushdown (q171) — ORDER BY ... LIMIT prunes the FILE LIST
    // from manifest min/max + null counts before any task runs: the scan
    // plans only files some valid top-k can need (strict-dominance
    // witnesses on the leading key), Spark's TakeOrderedAndProject
    // finishes above. `files_pruned` asserts the skip really fired; the
    // tie-break column rides along to keep the answer deterministic.
    Query("q171_topk_pushdown", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ord", Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartitionByRange(8, col("o_totalprice")), "create")
      val total = store.manifests("ord").maxBy(_.version).files.size
      val q = s.sql(
        s"""SELECT o_orderkey, o_totalprice, o_orderpriority
           |FROM $cat.ns.ord
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin)
      val rows = q.collect()
      val kept = collectGraftScans(q.queryExecution.executedPlan)
        .map(_.currentFileCount).minOption.getOrElse(-1)
      import s.implicits._
      rows.map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
          kept >= 0 && kept < total))
        .toSeq.toDF("o_orderkey", "totalprice", "priority", "files_pruned")
        .orderBy(col("totalprice").desc, col("o_orderkey"))
    }, oracleSql =
      // The pruned scan must return exactly the full-table top-25.
      """SELECT o_orderkey, o_totalprice AS totalprice,
        |  o_orderpriority AS priority, true AS files_pruned
        |FROM orders
        |ORDER BY totalprice DESC, o_orderkey LIMIT 25""".stripMargin),

    // Column mapping (q175) — ALTER TABLE ... RENAME COLUMN without
    // rewriting a byte: the field's physical parquet name is pinned at
    // first write, the rename is one metadata commit, and files written
    // BEFORE and AFTER it share the physical name. The anchor renames
    // mid-history, appends under the new logical name, and aggregates
    // through the mapping; `mapped` asserts no data file was renamed.
    Query("q175_column_mapping", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      store.commit("t", ord.filter(col("o_orderkey") % 3 === 0), "create")
      s.sql(s"ALTER TABLE $cat.ns.t RENAME COLUMN o_totalprice TO price")
      store.append("t", ord.filter(col("o_orderkey") % 3 === 1)
        .withColumnRenamed("o_totalprice", "price"))
      val physStillOld = store.manifests("t").maxBy(_.version).files.forall {
        fe =>
          val cols = s.read.parquet(
            new java.io.File(wh, s"t/${fe.path}").toString).columns.toSet
          cols.contains("o_totalprice") && !cols.contains("price")
      }
      s.sql(
        s"""SELECT o_orderpriority AS priority, count(*) AS n,
           |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM $cat.ns.t GROUP BY o_orderpriority""".stripMargin)
        .withColumn("mapped", lit(physStillOld))
        .orderBy(col("priority"))
    }, oracleSql =
      // Pre- and post-rename rows aggregated under the renamed column.
      """SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  true AS mapped
        |FROM orders WHERE o_orderkey % 3 <= 1
        |GROUP BY priority ORDER BY priority""".stripMargin),

    // Type widening (q181) — ALTER COLUMN TYPE without data rewrite
    // (Iceberg type promotion / Delta type widening): files written
    // before the change keep int32/decimal(9,2) footers, files after
    // carry int64/decimal(18,2), and ONE scan serves both (Spark 4's
    // parquet readers widen in the vectorized path). Values past the
    // old type's range land only post-widen; the `metadata_only` flag
    // asserts the pre-widen files were never rewritten. Stats-based
    // file skipping stays live because every allowed promotion keeps
    // its stat kind (TypeWideningSpec gates the algebra + guards).
    Query("q181_type_widening", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("int").as("okey"),
          col("o_totalprice").cast(DecimalType(9, 2)).as("price"),
          col("o_orderpriority").as("priority"))
      store.commit("t", ord.filter(col("okey") % 3 === 0), "create")
      s.sql(s"ALTER TABLE $cat.ns.t ALTER COLUMN okey TYPE BIGINT")
      store.widenColumnType("t", "price", DecimalType(18, 2))
      store.append("t", ord.filter(col("okey") % 3 === 1)
        .select((col("okey").cast("long") + lit(5000000000L)).as("okey"),
          col("price").cast(DecimalType(18, 2)), col("priority")))
      val narrowStillNarrow = store.manifests("t").find(_.version == 1L)
        .get.files.forall { fe =>
          s.read.parquet(new java.io.File(wh, s"t/${fe.path}").toString)
            .schema("okey").dataType ==
            org.apache.spark.sql.types.IntegerType
        }
      s.sql(
        s"""SELECT priority, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(okey) AS BIGINT) AS key_sum,
           |  CAST(sum(price) AS DOUBLE) AS total
           |FROM $cat.ns.t GROUP BY priority""".stripMargin)
        .withColumn("metadata_only", lit(narrowStillNarrow))
        .orderBy(col("priority"))
    }, oracleSql =
      // Pre-widen rows as written plus post-widen rows offset past the
      // int range, aggregated under the widened types.
      """WITH t AS (
        |  SELECT o_orderkey AS okey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 5000000000,
        |    CAST(o_totalprice AS DECIMAL(18,2)),
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 = 1)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum,
        |  CAST(sum(price) AS DOUBLE) AS total,
        |  true AS metadata_only
        |FROM t GROUP BY priority ORDER BY priority""".stripMargin),

    // Column DEFAULT values (q182) — `ADD COLUMN … DEFAULT` is
    // METADATA-ONLY (Delta/Iceberg-v3 default-value semantics): files
    // written before the column existed are never rewritten; scans fill
    // the pinned EXISTS_DEFAULT ('legacy') for their rows, while INSERTs
    // that omit the column materialize CURRENT_DEFAULT — moved to
    // 'online' by SET DEFAULT before the insert, proving the two halves
    // are independent. The `metadata_only` flag asserts the pre-column
    // files still physically lack the column. DefaultColumnsSpec gates
    // the full lifecycle (DROP DEFAULT, filters, typed literals).
    Query("q182_default_columns", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          col("o_orderpriority").as("priority"))
      store.commit("t", ord.filter(col("okey") % 3 === 0), "create")
      s.sql(s"ALTER TABLE $cat.ns.t ADD COLUMN chan STRING DEFAULT 'legacy'")
      s.sql(s"ALTER TABLE $cat.ns.t ALTER COLUMN chan SET DEFAULT 'online'")
      ord.filter(col("okey") % 3 === 1).createOrReplaceTempView("q182_src")
      s.sql(s"INSERT INTO $cat.ns.t (okey, price, priority) " +
        "SELECT * FROM q182_src")
      val metadataOnly = store.manifests("t").find(_.version == 1L)
        .get.files.forall { fe =>
          !s.read.parquet(new java.io.File(wh, s"t/${fe.path}").toString)
            .columns.contains("chan")
        }
      s.sql(
        s"""SELECT chan, priority, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(price) AS DOUBLE) AS total
           |FROM $cat.ns.t GROUP BY chan, priority""".stripMargin)
        .withColumn("metadata_only", lit(metadataOnly))
        .orderBy(col("chan"), col("priority"))
    }, oracleSql =
      // Pre-column rows carry the pinned EXISTS_DEFAULT 'legacy'; rows
      // inserted after SET DEFAULT carry the moved CURRENT_DEFAULT 'online'.
      """WITH t AS (
        |  SELECT o_orderkey AS okey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderpriority AS priority, 'legacy' AS chan
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)),
        |    o_orderpriority, 'online'
        |  FROM orders WHERE o_orderkey % 3 = 1)
        |SELECT chan, priority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(price) AS DOUBLE) AS total, true AS metadata_only
        |FROM t GROUP BY chan, priority ORDER BY chan, priority""".stripMargin),

    // Atomic REPLACE TABLE AS SELECT (q183) — StagingTableCatalog RTAS
    // (Iceberg's atomic replace): the CTAS and its replacement each land
    // as ONE manifest swap, the replace resets schema/spec/identity, and
    // prior versions stay time-travelable — the result reads BOTH epochs
    // (the replaced aggregate + a VERSION AS OF 1 rollup of the original
    // rows) to prove the swap kept history. ReplaceTableSpec gates the
    // lifecycle (abort-on-failure, partitioned RTAS, mapping reset).
    Query("q183_replace_table", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      Tables.load(s, dir, "orders").createOrReplaceTempView("q183_orders")
      s.sql(s"CREATE TABLE $cat.ns.t USING graft AS " +
        "SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price " +
        "FROM q183_orders")
      s.sql(s"REPLACE TABLE $cat.ns.t USING graft AS " +
        "SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) " +
        "AS total FROM q183_orders GROUP BY o_orderpriority")
      val opsOk = new TableStore(s, wh).manifests("t")
        .map(_.operation) == Seq("create", "replace")
      val v1 = s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_v1, " +
        s"CAST(sum(price) AS DOUBLE) AS total_v1 FROM $cat.ns.t VERSION AS OF 1")
      s.table(s"$cat.ns.t")
        .select(col("priority"), col("n"),
          col("total").cast("double").as("total"))
        .crossJoin(v1)
        .withColumn("atomic_ops", lit(opsOk))
        .orderBy(col("priority"))
    }, oracleSql =
      // The replaced table's aggregate plus the pre-replace epoch's rollup
      // (graft reads it via VERSION AS OF 1; the sources never changed).
      """WITH v2 AS (
        |  SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1),
        |v1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_v1,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_v1
        |  FROM orders)
        |SELECT priority, n, total, n_v1, total_v1, true AS atomic_ops
        |FROM v2 CROSS JOIN v1 ORDER BY priority""".stripMargin),

    // Identity columns (q185) — GENERATED ALWAYS AS IDENTITY with
    // connector-side generation (Delta-style sparse blocks over the
    // stats-based watermark): two by-name INSERT ... SELECTs allocate
    // ids that are unique, step-aligned, ≥ START, and DISJOINT across
    // writes (write 2 strictly above write 1's max — the watermark is
    // recomputed from file stats, metadata-only at any scale); explicit
    // inserts into the ALWAYS column are refused. Ids are allocation-
    // nondeterministic, so the row is the INVARIANTS plus deterministic
    // counts; IdentityColumnsSpec gates per-value behavior (dense inline
    // DEFAULT rows, BY DEFAULT pass-through, descending steps).
    Query("q185_identity_columns", Family.TableFormat, (s, dir) => {
      val (_, cat) = Scratch.catalog(s)
      s.sql(s"CREATE TABLE $cat.ns.t (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY (START WITH 1000 INCREMENT BY 3), o_custkey BIGINT, " +
        "price DECIMAL(18,2)) USING graft")
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          col("o_orderkey"))
        .createOrReplaceTempView("q185_src")
      s.sql(s"INSERT INTO $cat.ns.t (o_custkey, price) " +
        "SELECT o_custkey, price FROM q185_src WHERE o_orderkey % 5 = 0")
      val w1 = s.table(s"$cat.ns.t")
        .agg(count(lit(1)), countDistinct(col("id")), max(col("id"))).head()
      val (n1, d1, max1) = (w1.getLong(0), w1.getLong(1), w1.getLong(2))
      s.sql(s"INSERT INTO $cat.ns.t (o_custkey, price) " +
        "SELECT o_custkey, price FROM q185_src WHERE o_orderkey % 5 = 1")
      val alwaysRejected =
        try { s.sql(s"INSERT INTO $cat.ns.t (id, o_custkey, price) " +
          "VALUES (1, 1, 1.0)"); false }
        catch { case _: Exception => true }
      val inv = s.table(s"$cat.ns.t").agg(
        count(lit(1)).as("n"),
        countDistinct(col("id")).as("d"),
        min(col("id")).as("mn"),
        max(when((col("id") - 1000) % 3 =!= 0, 1L)
          .otherwise(0L)).as("misaligned"),
        sum(when(col("id") > max1, 1L).otherwise(0L)).as("above_w1")).head()
      val n = inv.getLong(0)
      s.range(1).select(
        lit(n).as("n_rows"),
        lit(inv.getLong(1)).as("n_ids"),
        lit(n1 == d1 && inv.getLong(1) == n).as("ids_unique"),
        lit(inv.getLong(2) >= 1000L).as("min_at_or_above_start"),
        lit(inv.getLong(3) == 0L).as("step_aligned"),
        lit(inv.getLong(4) == n - n1).as("batches_disjoint"),
        lit(alwaysRejected).as("always_rejected"))
    }, oracleSql =
      // Identity allocation is invariant-checked Spark-side (values are
      // allocation order); the oracle pins the deterministic counts.
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  true AS ids_unique, true AS min_at_or_above_start,
        |  true AS step_aligned, true AS batches_disjoint,
        |  true AS always_rejected
        |FROM orders WHERE o_orderkey % 5 IN (0, 1)""".stripMargin),

    // SQL CHECK constraints (q186) — the standard `ALTER TABLE … ADD /
    // DROP CONSTRAINT` face (SUPPORT_TABLE_CONSTRAINT) over the store's
    // Delta-style checks: ADD validates every existing row, a violating
    // INSERT is refused INSIDE the write job (no pre-scan), DROP is
    // metadata-only and re-opens the gate. The result folds the table
    // after a refused insert, a passing insert, and a post-drop insert
    // of the previously-refused row. SqlConstraintSpec gates the
    // lifecycle (inline DDL checks, REPLACE TABLE, DESCRIBE surface).
    Query("q186_sql_constraints", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          col("o_orderpriority").as("priority"), col("o_orderkey"))
      store.commit("t", ord.filter(col("o_orderkey") % 4 === 0)
        .drop("o_orderkey"), "create")
      s.sql(s"ALTER TABLE $cat.ns.t ADD CONSTRAINT price_pos " +
        "CHECK (price > 0)")
      val rejected =
        try { s.sql(s"INSERT INTO $cat.ns.t VALUES (1, -1.00, 'X')"); false }
        catch { case _: Exception => true }
      ord.filter(col("o_orderkey") % 4 === 1).drop("o_orderkey")
        .createOrReplaceTempView("q186_src")
      s.sql(s"INSERT INTO $cat.ns.t SELECT * FROM q186_src")
      s.sql(s"ALTER TABLE $cat.ns.t DROP CONSTRAINT price_pos")
      s.sql(s"INSERT INTO $cat.ns.t VALUES (-7, -1.00, '0-NEG')")
      s.sql(
        s"""SELECT priority, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(price) AS DOUBLE) AS total
           |FROM $cat.ns.t GROUP BY priority""".stripMargin)
        .withColumn("rejected_mid_constraint", lit(rejected))
        .orderBy(col("priority"))
    }, oracleSql =
      // The refused insert never lands; the post-drop sentinel does.
      """WITH t AS (
        |  SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 4 IN (0, 1)
        |  UNION ALL
        |  SELECT -7, CAST(-1.00 AS DECIMAL(18,2)), '0-NEG')
        |SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(price) AS DOUBLE) AS total,
        |  true AS rejected_mid_constraint
        |FROM t GROUP BY priority ORDER BY priority""".stripMargin),

    // Generated columns (q187) — `GENERATED ALWAYS AS (expr)` computed on
    // write (SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS + the fill
    // rule) and doubling as the PARTITION column: the classic "derive
    // the date from the timestamp" layout users otherwise materialize by
    // hand, here with explicit writes refused and partition-exact file
    // pruning on the derived day (the boolean asserts the week's scan
    // touched a strict subset of files). GeneratedColumnsSpec gates the
    // lifecycle. At 100 TB this is the layout that turns a time-range
    // query into a partition listing.
    Query("q187_generated_columns", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      s.sql(s"CREATE TABLE $cat.ns.ev (ts TIMESTAMP, event_type STRING, " +
        "value DECIMAL(18,2), d DATE GENERATED ALWAYS AS (CAST(ts AS DATE))" +
        ") USING graft PARTITIONED BY (d)")
      Tables.load(s, dir, "events")
        .select(col("ts"), col("event_type"),
          col("value").cast(DecimalType(18, 2)).as("value"))
        .createOrReplaceTempView("q187_src")
      s.sql(s"INSERT INTO $cat.ns.ev (ts, event_type, value) " +
        "SELECT * FROM q187_src")
      val m = new TableStore(s, wh).manifests("ev").maxBy(_.version)
      val inWeek = m.files.count { fe =>
        val d = fe.partitionValues.getOrElse("d", "")
        d >= "2024-01-10" && d <= "2024-01-16"
      }
      val pruned = inWeek > 0 && inWeek < m.files.size &&
        m.files.forall(_.partitionValues.contains("d"))
      s.sql(
        s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(value) AS DOUBLE) AS total
           |FROM $cat.ns.ev
           |WHERE d BETWEEN DATE'2024-01-10' AND DATE'2024-01-16'
           |GROUP BY event_type""".stripMargin)
        .withColumn("files_pruned", lit(pruned))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The generated day column is CAST(ts AS DATE); the week filter
      // restates it over the raw timestamps.
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  true AS files_pruned
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE'2024-01-10' AND DATE'2024-01-16'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // CLUSTER BY (q190) — liquid-clustering shape: the DDL's cluster
    // keys become the store's write order, every SQL write range-
    // clusters + sorts (RequiresDistributionAndOrdering), files carry
    // narrow DISJOINT min/max ranges on the keys, and a key-range scan
    // prunes files from stats alone — no directory partitioning, none
    // of its small-file explosion, re-declarable with one metadata
    // commit (`ALTER TABLE … CLUSTER BY`). The booleans assert the
    // disjoint layout and the strict-subset file hit. ClusterBySpec
    // gates the DDL lifecycle.
    Query("q190_cluster_by", Family.TableFormat, (s, dir) => {
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      s.sql(s"CREATE TABLE $cat.ns.t (okey BIGINT, qty DECIMAL(18,2), " +
        "rf STRING) USING graft CLUSTER BY (okey)")
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"),
          col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
          col("l_returnflag").as("rf"))
        .repartition(16) // scrambled input: the write must do the layout
        .createOrReplaceTempView("q190_src")
      // sf0.01 is small enough for AQE to coalesce the range shuffle to
      // one partition; pin it so the multi-file layout is observable
      // (at real scale the shuffle is many partitions regardless)
      withConf(s, "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        s.sql(s"INSERT INTO $cat.ns.t SELECT * FROM q190_src")
      }
      val m = store.manifests("t").maxBy(_.version)
      val ranges = m.files.flatMap(_.stats.get("okey"))
        .map(cs => (cs.min.toLong, cs.max.toLong)).sortBy(_._1)
      val disjoint = ranges.size == m.files.size &&
        ranges.sliding(2).forall {
          case Seq((_, aMax), (bMin, _)) => aMax <= bMin
          case _ => true
        }
      val hit = m.files.count(_.stats.get("okey").exists(cs =>
        cs.min.toLong <= 20000L && 10000L <= cs.max.toLong))
      val pruned = m.files.size > 1 && hit < m.files.size
      s.sql(
        s"""SELECT rf, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(qty) AS DOUBLE) AS total_qty
           |FROM $cat.ns.t WHERE okey BETWEEN 10000 AND 20000
           |GROUP BY rf""".stripMargin)
        .withColumn("ranges_disjoint", lit(disjoint))
        .withColumn("files_pruned", lit(pruned))
        .orderBy(col("rf"))
    }, oracleSql =
      // The cluster-keyed range scan restated over raw lineitem.
      """SELECT l_returnflag AS rf, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  true AS ranges_disjoint, true AS files_pruned
        |FROM lineitem WHERE l_orderkey BETWEEN 10000 AND 20000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )
}
