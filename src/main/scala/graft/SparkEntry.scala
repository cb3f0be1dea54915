package graft

import graft.GraftSession.withConf
import graft.core.{MatView, Merge, TableStore}
import graft.curation.{Sampling, Scd2}
import graft.ext.{Chunking, Clustering, Contamination, Dedup, Dsir, KMeans, Mixing, Multimodal, Packing, ProductQuantization, Redaction, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Numeric-determinism discipline (so results hash-match the DuckDB oracle):
  * every aggregated numeric is either (a) an exact-decimal SUM (addition is
  * order-independent), (b) a COUNT, or (c) deterministic double arithmetic on
  * top of those exact values (e.g. avg = exact-sum::double / count). We never
  * expose an engine-internal double accumulation (plain SUM/AVG/STDDEV over
  * doubles), whose value depends on partition merge order.
  */
object SparkEntry {

  private def dec(c: Column, scale: Int): Column = c.cast(DecimalType(18, scale))
  private def tmpStore(s: SparkSession): TableStore =
    new TableStore(s, java.nio.file.Files.createTempDirectory("graft_wh").toString)

  /** Per-(JVM, fixture) JSONL staging dir, deleted on JVM exit.
    * `.text(mode=overwrite)` replaces its contents on every run, so
    * repeated bench/verify invocations in one JVM reuse one directory
    * instead of leaking a corpus copy per call; the pid component keeps
    * concurrent JVMs (a bench overlapping a verify) from overwriting or
    * shutdown-deleting each other's staging mid-query. */
  private val jsonlDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def jsonlStagingDir(fixtureDir: String): String =
    formatStagingDir("jsonl", fixtureDir)
  private def formatStagingDir(tag: String, fixtureDir: String): String =
    jsonlDirs.computeIfAbsent(tag + "|" + fixtureDir, { _ =>
      val p = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        "graft_" + tag + "_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(fixtureDir.hashCode))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(p.toFile)
      }))
      p.toString
    })

  /** Per-(JVM, fixture, tag) staging WAREHOUSE, wiped at every call and
    * deleted on JVM exit — for anchors that materialize a scratch catalog
    * table (q133): repeated bench/verify reps in one JVM reuse ONE
    * directory (previous rep's snapshot wiped on entry) instead of
    * leaking a table copy per call. The returned catalog name is stable
    * for the same key, so the session's catalog conf map stays bounded
    * too (GraftCatalog is stateless — it re-reads manifests per call, so
    * a wiped-and-recommitted warehouse under a cached catalog instance is
    * safe). Callers must fully consume a rep's DataFrame before the next
    * rep begins (the driver's bench/verify loops do). */
  private val stagingWhs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def stagingWarehouse(s: SparkSession, tag: String,
      fixtureDir: String): (String, String) = {
    val (wh, cat) = stagingWhs.computeIfAbsent(s"$tag|$fixtureDir", { _ =>
      val key = tag + "_" + ProcessHandle.current().pid() + "_" +
        Integer.toHexString(fixtureDir.hashCode)
      val p = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_" + key)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(p.toFile)
      }))
      (p.toString, "g" + key)
    })
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(wh))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh))
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (wh, cat)
  }

  /** All GraftStatsScan instances in an executed plan (recursing through
    * AQE wrappers) — used by queries that assert runtime pruning fired. */
  private def collectGraftScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.graft.GraftStatsScan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val self = p match {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case g: org.apache.spark.sql.graft.GraftStatsScan => Seq(g)
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    self ++ kids.flatMap(collectGraftScans)
  }
  /** Order-independent exact sum: cast each row value to decimal, sum, re-cast. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(dec(c, scale)).cast(DecimalType(18, scale))

  /** File-source replay harness for the streaming anchors: fixture batches
    * are APPENDED as parquet into a watched directory between
    * `processAllAvailable()` calls, so each append arrives as its own
    * micro-batch through a real distributed source. Nothing is ever
    * collected to the driver — the r4 `MemoryStream` feeder pulled the
    * whole fixture through the driver, so at a 100× fixture the anchor
    * died before the operator under test ran; this path is a distributed
    * write + file-stream read end to end. */
  private final class FileReplay(s: SparkSession, schema: StructType) {
    private val dir =
      java.nio.file.Files.createTempDirectory("graft_replay").toString
    /** The streaming source frame to hand to the operator under test. */
    def source: DataFrame = s.readStream.schema(schema).parquet(dir)
    /** Write one fixture batch into a private staging directory; it
      * becomes visible to the stream only when [[FileReplay.landTogether]]
      * renames it into the watched directory. Two-source replays stage
      * BOTH sides of a time slice first and then land them back-to-back
      * (two bare rename syscalls), so the running query's next directory
      * listing sees the whole slice as ONE micro-batch. The previous
      * direct-append `land` raced the stream's idle polling: the first
      * side's write completed, the query immediately opened a trigger on
      * it alone, and the second side became its own trigger — measured 8
      * triggers instead of 4 on q158/q177 (each extra trigger pays the
      * full foreachBatch body + offset/commit-log fsyncs + state-store
      * commits; opt guide §1.2 "remove unnecessary passes"). */
    def stage(batch: DataFrame): Seq[(java.nio.file.Path, java.nio.file.Path)] = {
      val st = java.nio.file.Files.createTempDirectory("graft_stage")
      batch.coalesce(1).write.mode("overwrite").parquet(st.toString)
      st.toFile.listFiles.toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => (f.toPath, java.nio.file.Paths.get(dir, f.getName)))
    }
    /** Stage `n` contiguous event-time slices of `rows` — replay order =
      * event-time order, same bucketing as `timeSlices` — plus one
      * trailing group per `extras` frame (sentinels), all in ONE
      * partitioned write job: the per-slice `stage` calls each re-scanned
      * the source and paid their own job+commit (3 slices + 2 sentinels =
      * 5 sequential jobs per source per replay; opt guide §1.2 "remove
      * unnecessary passes"). Returns one landable group per slice then
      * per extra, in replay order; a group is empty iff its slice got no
      * rows (nothing lands, no trigger — same appended result set). */
    def stageSlices(rows: DataFrame, tsCol: String, n: Int,
        extras: Seq[DataFrame] = Seq.empty)
        : Seq[Seq[(java.nio.file.Path, java.nio.file.Path)]] = {
      val st = java.nio.file.Files.createTempDirectory("graft_stage")
      val mm = rows.agg(min(col(tsCol)).cast("double"),
        max(col(tsCol)).cast("double")).head
      val lo = mm.getDouble(0)
      val span = math.max(mm.getDouble(1) - lo, 1e-9)
      val bucket = least(lit(n - 1),
        floor((col(tsCol).cast("double") - lit(lo)) / lit(span) * n))
        .cast("int")
      val all = extras.zipWithIndex.foldLeft(
        rows.withColumn("__slice", bucket)) { case (acc, (ex, i)) =>
          acc.unionByName(ex.withColumn("__slice", lit(n + i)))
      }
      // one task writes every slice directory; __slice lives only in the
      // directory names, so landed files carry exactly the source schema
      all.coalesce(1).write.mode("overwrite")
        .partitionBy("__slice").parquet(st.toString)
      (0 until n + extras.size).map { i =>
        val d = new java.io.File(st.toFile, s"__slice=$i")
        Option(d.listFiles).map(_.toSeq).getOrElse(Seq.empty)
          .filter(f => f.isFile && f.getName.startsWith("part-"))
          // prefix with the slice: one job reuses file names across dirs
          .map(f => (f.toPath, java.nio.file.Paths.get(dir, s"s$i-${f.getName}")))
      }
    }
    /** [[stageSlices]] + land-and-wait per group: the single-source
      * replay loop (one write job stages everything, each group then
      * lands as one micro-batch). */
    def feedSlices(q: org.apache.spark.sql.streaming.StreamingQuery,
        rows: DataFrame, tsCol: String, n: Int,
        extras: Seq[DataFrame] = Seq.empty): Unit =
      stageSlices(rows, tsCol, n, extras).foreach { g =>
        FileReplay.landTogether(Seq(g))
        q.processAllAvailable()
      }
    /** Land one fixture batch WITHOUT waiting (single-source replays). */
    def land(batch: DataFrame): Unit =
      FileReplay.landTogether(Seq(stage(batch)))
    /** Land one fixture batch and wait for it to be fully processed. */
    def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
        batch: DataFrame): Unit = {
      land(batch)
      q.processAllAvailable()
    }
  }

  private object FileReplay {
    /** Make every staged file visible in its watched directory
      * back-to-back: atomic same-filesystem renames with no Spark job in
      * between, closing the one-trigger-per-side race (see
      * [[FileReplay.stage]]). */
    def landTogether(
        staged: Seq[Seq[(java.nio.file.Path, java.nio.file.Path)]]): Unit =
      staged.flatten.foreach { case (src, dst) =>
        java.nio.file.Files.move(src, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      }
  }

  /** Run a foreachBatch body against a PERSISTED micro-batch frame.
    * foreachBatch hands over a LAZY frame: every action on it re-executes
    * the batch's incremental plan — state-store reads included — so the
    * usual isEmpty-guard + write pattern paid (parts of) each batch two
    * or three times. Standard remedy from the Structured Streaming guide;
    * the cache is bounded by one micro-batch and dropped before the next. */
  private def withBatch(b0: DataFrame)(body: DataFrame => Unit): Unit = {
    val b = b0.persist()
    try body(b) finally { b.unpersist(); () }
  }

  /** [[withConf]] setting that runs a streaming replay with no-data
    * micro-batches disabled. A watermark-only trigger pays the full
    * per-trigger fixed cost (incremental re-plan, offset/commit-log
    * writes, one state-store commit per partition per stateful op) and
    * roughly DOUBLES the trigger count of a bounded replay. Only used
    * where the final table provably does not depend on a trailing
    * no-data flush: double-sentinel outer joins (the second sentinel's
    * DATA batch flushes everything the first sentinel's watermark proved
    * unmatched), inner interval joins and first-seen dedup (emit on data
    * batches only). */
  private val noDataBatchesOff =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  private val rocksDbStateStore =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Split a fixture frame into `n` contiguous event-time slices (replay
    * order = event-time order, so watermarks only move forward and no
    * fixture row is ever late). Bounds come from one 2-value aggregate —
    * bounded metadata, not fixture data. */
  private def timeSlices(rows: DataFrame, tsCol: String, n: Int): Seq[DataFrame] = {
    val mm = rows.agg(min(col(tsCol)).cast("double"),
      max(col(tsCol)).cast("double")).head
    val lo = mm.getDouble(0)
    val span = math.max(mm.getDouble(1) - lo, 1e-9)
    val bucket = least(lit(n - 1),
      floor((col(tsCol).cast("double") - lit(lo)) / lit(span) * n)).cast("int")
    (0 until n).map(b => rows.filter(bucket === b))
  }

  /** Exact decimal sum surfaced as DOUBLE. Internal math stays exact decimal
    * (order-independent); the single final decimal→double conversion is
    * deterministic and bit-identical across engines. We never OUTPUT a
    * decimal-typed column: the driver's hasher canonicalizes DuckDB decimals
    * via float64 but Spark parquet decimals exactly, so any decimal output
    * column hash-mismatches on trailing-zero representation. */
  private def dsumd(c: Column, scale: Int = 2): Column =
    dsum(c, scale).cast(DoubleType)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2B hash aggregate + scalar arithmetic + sort (TPC-H Q1 shape; covers
    // SURVEY §2B "Hash aggregate w/ GROUP BY", SUM/AVG/COUNT, ORDER BY).
    "q01_pricing_summary" -> ((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
      l.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsumd(col("l_quantity")).as("sum_qty"),
          dsumd(col("l_extendedprice")).as("sum_base_price"),
          dsumd(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("sum_disc_price"),
          // scale 6: price(2dp)·(1-disc)(2dp)·(1+tax)(2dp) has ≤6 exact
          // decimals — the cast snaps to the exact product instead of
          // genuinely rounding (midpoint rounding differs across engines).
          dsumd(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
          (sum(dec(col("l_quantity"), 2)).cast(DoubleType) / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // §2B multi-way equi-join (5 tables) + agg; Catalyst broadcasts the dims.
    "q02_revenue_by_nation" -> ((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
                col("o_orderdate") < lit("1998-01-01"))
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      // Per-order partial aggregate BELOW the join: lineitem is clustered
      // by orderkey so the map-side combine collapses ~4:1 pre-shuffle,
      // and every join above consumes |orders|-sized input. Decimal sums
      // re-associate exactly, so the two-level total is bit-identical.
      val perOrder = l.groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("__rev"),
          count(lit(1)).as("__n"))
      perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("__rev")).cast(DecimalType(18, 4)).cast(DoubleType)
            .as("revenue"),
          sum(col("__n")).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // §2B ORDER BY + LIMIT → TakeOrderedAndProject (top-k without full sort).
    "q03_topk_orders" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate").cast(DateType).as("o_date"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // §2B semi-join via IN-subquery (q14a/q23/q95 shape) → LEFT_SEMI.
    "q04_semijoin_priority" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val big = Tables.load(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // §2B anti-join via NOT EXISTS (q16/q69/q94 shape) → LEFT_ANTI.
    "q05_customers_without_orders" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // §2A A10+A12: full SCD2 lifecycle through TableStore — bulk insert of
    // the earliest event per user, then scd2Complex over the remaining CDC
    // stream rebuilds every user's version chain.
    "q20_scd2_history" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val withRn = ev.withColumn("__rn", row_number().over(w))
      val full = withRn.filter(col("__rn") === 1).drop("__rn")
      val delta = withRn.filter(col("__rn") > 1).drop("__rn")
      val store = tmpStore(s)
      Scd2.bulkInsert(store, "ev", full, tsCol = "ts")
      Scd2.scd2Complex(store, "ev", delta, pkCol = "user_id", tsCol = "ts")
      store.read("ev")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("start_datetime"), col("end_datetime"),
          col("is_current"))
        .orderBy(col("user_id"), col("start_datetime"))
    }),

    // Streaming CDC→SCD2, oracle-anchored: the SAME deltas as q20 arrive
    // as THREE event-time-ordered micro-batches through a parquet
    // file-stream source (the test stand-in for a Kafka CDC feed — see
    // [[FileReplay]]; no fixture data touches the driver) into
    // CdcStream.streamScd2 — each micro-batch is one atomic SCD2 commit
    // (mirrors updating_db_with_deltas_iceberg.ipynb cells 29-37 run
    // continuously). The final table state must equal the batch-derived
    // SCD2 chain, so the q20 lead-window SQL is the oracle.
    "q64_stream_cdc_scd2" -> ((s, dir) => {
      val store = tmpStore(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val q = graft.streaming.CdcStream.streamScd2(replay.source, store, "ev",
        pkCol = "user_id", tsCol = "ts",
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
      try replay.feedSlices(q, ev, "ts", 3)
      finally q.stop()
      store.read("ev")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("start_datetime"), col("end_datetime"),
          col("is_current"))
        .orderBy(col("user_id"), col("start_datetime"))
    }),

    // ext: near-dup cluster formation — the transitive closure that turns
    // pairwise dedup verdicts (q31's semantics) into keep-one-per-cluster
    // decisions. Components run on the unique-content graph and members
    // attach afterwards (never k² in the duplication factor); the oracle
    // recomputes the same clusters via a recursive reachability CTE over
    // member-level pairs.
    "q65_dedup_clusters" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.nearDupComponents(docs, "doc_id", "text", n = 3, threshold = 0.8)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("members"), max(col("doc_id")).as("max_id"))
        .orderBy(col("component"))
    }),

    // ext: train/eval decontamination — training docs sharing a word
    // 8-gram with the (doc_id % 97 = 0) eval slice, counted per source.
    // Eval keys broadcast; the corpus side is a narrow projection +
    // broadcast semi-join (never shuffled).
    "q66_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val hits = Contamination
        .contaminatedIds(train, evalSet, "doc_id", "text", n = 8)
        .withColumn("__hit", lit(1))
      train.join(hits, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_train"),
          count(col("__hit")).as("n_contaminated"))
        .orderBy(col("source"))
    }),

    // §2A A9 (stratified variant): deterministic per-stratum reservoir —
    // up to 40 docs per source in md5(doc_id) order, reproducible across
    // engines and partitionings.
    "q67_stratified_sample" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.stratifiedByHash(docs, Seq("source"), "doc_id", k = 40)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // Streaming windowed aggregation, oracle-anchored: a deterministic 10%
    // slice of the events table replayed in event-time order as three
    // micro-batches through a parquet file-stream source ([[FileReplay]];
    // no fixture data touches the driver);
    // CdcStream.windowedEventCounts (watermark + tumbling window) emits
    // finalized windows in Append mode into the versioned store via
    // foreachBatch. A far-future sentinel event advances the watermark
    // past every real window so state flushes; the final table must equal
    // the batch group-by over the same slice.
    "q68_stream_windows" -> ((s, dir) => {
      import s.implicits._
      val store = tmpStore(s)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val agg = graft.streaming.CdcStream.windowedEventCounts(replay.source)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      // Streaming state partition count is pinned by the FIRST micro-batch
      // (planned lazily on the stream thread) from the session conf; 8
      // suits the fixture-scale state — the dominant cost is per-partition
      // state-store commit files per micro-batch, not data volume. The
      // conf stays set for the whole feed and is restored after stop().
      withConf(s, "spark.sql.shuffle.partitions" -> "8", noDataBatchesOff) {
        val q = agg.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b0: DataFrame, _: Long) =>
            withBatch(b0) { b =>
              if (!b.isEmpty) {
                if (!store.exists("win")) store.commit("win", b, "create")
                else store.append("win", b)
              }
            }
          }
          .start()
        try {
          // double sentinel, no-data batches off: sentinel 1 pushes the
          // watermark past every real window, sentinel 2's DATA batch
          // emits them all (closed windows flush in the batch AFTER the
          // watermark advance). Replaces ~4 watermark-only no-data
          // triggers with one data trigger; sentinel windows never emit
          // and are filtered at read regardless.
          val maxMs = ev.agg(max(col("ts"))).head.getTimestamp(0).getTime
          replay.feedSlices(q, ev, "ts", 3, Seq(48L, 96L).map(h =>
            Seq((-1L, new java.sql.Timestamp(maxMs + h * 3600 * 1000),
              "__sentinel", 0.0))
              .toDF("event_id", "ts", "event_type", "value")))
        } finally q.stop()
      }
      store.read("win")
        .filter(col("event_type") =!= "__sentinel")
        .select(col("window_start"), col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ext: sequence packing — contiguous fill of 2048-token training
    // sequences over the md5(doc_id) corpus order, via the two-pass
    // distributed prefix sum (range partition → intra-partition running
    // totals → broadcast partition offsets; no global-order window).
    "q69_sequence_packing" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      val packed = Packing.contiguousFill(withTok, "doc_id", "n_tok",
        budgetTokens = 2048L)
      Packing.binSummary(packed).orderBy(col("bin"))
    }),

    // ext: the end-to-end curation funnel — language filter → quality
    // filter → repetition filter → exact dedup, per-stage retention in ONE
    // pass (conditional aggregation over a pure projection; the corpus is
    // never shuffled, dedup counts distinct fingerprints of survivors).
    "q70_curation_funnel" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      val enriched = TextAnalysis.qualityFeatures(docs)
        .withColumn("lang_guess", TextAnalysis.langId(col("text")))
        .withColumn("nd", size(array_distinct(toks)).cast("long"))
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      val p1 = col("lang_guess") === "en"
      val p2 = p1 && col("quality_score") > 0.3
      val p3 = p2 && col("n_tokens") > 0 &&
        col("nd").cast("double") / col("n_tokens") >= 0.55
      enriched.agg(
        count(lit(1)).as("n_all"),
        sum(when(p1, 1L).otherwise(0L)).as("n_lang"),
        sum(when(p2, 1L).otherwise(0L)).as("n_quality"),
        sum(when(p3, 1L).otherwise(0L)).as("n_clean"),
        countDistinct(when(p3, col("fp"))).as("n_unique"))
    }),

    // §2A A13: 3-branch CDC merge (update / delete / insert) with
    // latest-per-key dedup, through Merge + TableStore.
    "q21_merge_upsert" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("record_deleted", col("event_type") === "error")
      val cutoff = lit("2024-01-20")
      val store = tmpStore(s)
      val target = Scd2.latestPerKey(
        ev.filter(col("ts") < cutoff), Seq("user_id"), "ts")
      store.commit("users", target, "create")
      val delta = ev.filter(col("ts") >= cutoff)
      Scd2.applyCdcDeltas(store, "users", delta, Seq("user_id"), "ts")
      store.read("users")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),

    // §2A A14 extension: incremental snapshot read — the rows added
    // between two versions, planned metadata-only from the manifest
    // file-set difference (cost scales with the delta, not the table) —
    // the feed an incremental downstream pipeline consumes instead of
    // rescanning. Oracle: the same row set expressed as a time filter.
    "q71_incremental_read" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val store = tmpStore(s)
      store.commit("ev", ev.filter(col("ts") < lit("2024-01-10")), "create")
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-10") &&
        col("ts") < lit("2024-01-20")))
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-20")))
      store.readIncremental("ev", 1, 3)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // Streaming face of the table format: spark.readStream.table over a
    // GraftCatalog table — three committed snapshots arrive as
    // micro-batches (offsets = versions), and the union of all batches
    // must equal the whole table (the batch group-by oracle).
    "q72_stream_table_source" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val wh = java.nio.file.Files.createTempDirectory("graft_sts").toString
      val cat = s"gq72x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val store = new TableStore(s, wh)
      store.commit("ev", ev.filter(col("ts") < lit("2024-01-10")), "create")
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-10") &&
        col("ts") < lit("2024-01-20")))
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-20")))
      val sink = s"q72_sink_${System.nanoTime()}"
      val q = s.readStream.table(s"$cat.ns.ev")
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // §2A A14+A15: time travel + $history metadata.
    "q22_time_travel" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val store = tmpStore(s)
      store.commit("ev", ev.filter(col("ts") < lit("2024-01-15")), "create")
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-15")))
      val v1CommitMs = store.manifests("ev").head.timestampMs
      val v1Rows = store.readAsOf("ev", v1CommitMs).count()
      val v2Rows = store.read("ev").count()
      val nVersions = store.history("ev").count()
      Seq((v1Rows, v2Rows, nVersions))
        .toDF("v1_n_rows", "v2_n_rows", "n_versions")
    }),

    // §2A/§4: manifest min/max file skipping (Iceberg-style) — a
    // range-partitioned commit is re-read through readWhere; the driver
    // check proves pruned results stay exact, the files_scanned column
    // proves files were actually skipped.
    "q28_file_pruning" -> ((s, dir) => {
      import s.implicits._
      val store = tmpStore(s)
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
    }),

    // Composition stress (reference sql/q64.sql shape): an 8-relation
    // sales CTE aggregated per (year, nation, customer), self-joined at
    // two anchor years — 16 scans / 14 joins before the final rollup into
    // per-nation revenue pairs. Exact-decimal revenue, DOUBLE at the edge.
    "q50_multiway_cte_selfjoin" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      val o = Tables.load(s, dir, "orders")
      val l = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
      val su = Tables.load(s, dir, "supplier")
      val ns = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("ns_nationkey"), col("n_name").as("ns_name"))
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)"))
      // The reference's engines materialize the shared `cross_sales` CTE
      // once; Spark would execute a DataFrame subtree once per consumer.
      // Instead of persisting the 8-relation join (cache churn at scale),
      // fold the two anchor-year branches into ONE pass: filter both
      // years up front (pushed to the orders scan), pivot per year with
      // conditional aggregation, and keep customers present in both.
      // Identical result, single execution, zero cached state.
      val yr = year(col("o_orderdate"))
      val sales = c
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(o.filter(year(col("o_orderdate")).isin(1995, 2000)),
          col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(p, col("p_partkey") === col("l_partkey"))
        .join(su, col("s_suppkey") === col("l_suppkey"))
        .join(ns, col("s_nationkey") === col("ns_nationkey"))
        .filter(col("p_size") <= 25 && col("s_acctbal") > 0)
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(sum(when(yr === 1995, rev)).as("rev_a"),
          count(when(yr === 1995, lit(1))).as("n_a"),
          sum(when(yr === 2000, rev)).as("rev_b"),
          count(when(yr === 2000, lit(1))).as("n_b"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
      sales
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_custs"),
          sum(col("rev_a")).cast("double").as("rev_1995"),
          sum(col("rev_b")).cast("double").as("rev_2000"))
        .orderBy(col("n_name"))
    }),

    // Composition stress (reference sql/q67.sql:32 shape): 8-column ROLLUP
    // over a 6-relation join, grouping-id derived per column so both
    // engines pack it identically; rolled-up columns surfaced as 'ALL' to
    // keep ordering engine-agnostic.
    "q51_rollup_8col" -> ((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      val p = Tables.load(s, dir, "part")
      val cols = Seq("r_name", "n_name", "c_mktsegment", "o_orderstatus",
        "o_orderpriority", "l_returnflag", "l_linestatus", "p_brand")
      val gid = cols.zipWithIndex.map { case (cn, i) =>
        grouping(col(cn)).cast("long") * (1L << (cols.size - 1 - i))
      }.reduce(_ + _)
      val out = l
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .filter(col("l_quantity") > 45)
        .rollup(cols.map(col): _*)
        .agg(gid.as("gid"), count(lit(1)).as("n"),
          dsumd(col("l_quantity")).as("sum_qty"))
        .select(col("gid") +:
          cols.map(cn => coalesce(col(cn), lit("ALL")).as(cn)) :+
          col("n") :+ col("sum_qty"): _*)
      out.orderBy(col("gid") +: cols.map(col): _*)
    }),

    // Composition stress (reference sql/q14a.sql shape): customers present
    // in all three return-flag channels via a 3-way INTERSECT stack, then
    // joined back for an exact-decimal balance sum.
    "q52_intersect_channels" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val l = Tables.load(s, dir, "lineitem")
      val c = Tables.load(s, dir, "customer")
      // INTERSECT of three single-column channels ≡ "customer has all
      // three flags". The naive 3-way intersect executes the orders ⋈
      // lineitem distinct once per channel; one conditional aggregate
      // computes set membership in a single pass — same rows, 3× less work,
      // and the gap grows linearly with data. Flags fold per orderkey
      // BELOW the join (lineitem is clustered by orderkey, so map-side
      // combine collapses ~4:1 before the shuffle) and the join consumes
      // |orders|-sized input instead of |lineitem|.
      val perOrder = l.filter(col("l_returnflag").isin("R", "A", "N"))
        .groupBy(col("l_orderkey"))
        .agg(
          max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("fR"),
          max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("fA"),
          max(when(col("l_returnflag") === "N", 1).otherwise(0)).as("fN"))
      val flagged = o.join(perOrder, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(max(col("fR")).as("fR"), max(col("fA")).as("fA"),
          max(col("fN")).as("fN"))
        .filter(col("fR") === 1 && col("fA") === 1 && col("fN") === 1)
        .select(col("o_custkey"))
      flagged
        .join(c, col("c_custkey") === col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
    }),

    // ROUND + ABS over exact decimals (both engines round decimals
    // HALF_UP, so the sums are bit-stable).
    "q53_round_abs" -> ((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)"))
      l.groupBy(col("l_returnflag"))
        .agg(sum(round(rev, 0)).cast("double").as("rounded_rev"),
          sum(abs(col("l_quantity").cast("decimal(18,2)") - 25)).cast("double")
            .as("abs_qty_dev"))
        .orderBy(col("l_returnflag"))
    }),

    // §2A A6: partitioned sink — identity partition spec on event_type,
    // Iceberg-style manifest partition tuples; the readWhere scan lists
    // ONLY the matching partition's files (partition_exact proves kept ==
    // files of that partition and < total).
    "q49_partitioned_sink" -> ((s, dir) => {
      val store = tmpStore(s)
      store.commitPartitioned("ev", Tables.load(s, dir, "events"),
        Seq("event_type"), "create")
      val m = store.manifests("ev").last
      val expected = m.files.count(_.partitionValues.get("event_type").contains("click"))
      val (kept, total) = store.prunedFileCount("ev", "event_type", "click", "click")
      store.readWhere("ev", "event_type", "click", "click")
        .agg(count(lit(1)).as("n_rows"), dsumd(col("value")).as("sum_value"))
        .withColumn("partition_exact", lit(kept == expected && kept < total))
    }),

    // SQL partitioned DDL (reference create_iceberg_tpcds.py:27-33
    // PARTITIONED BY): CREATE TABLE … PARTITIONED BY + INSERT INTO lays
    // rows out in identity-partition directories via the clustered DSv2
    // write; the filtered read then scans only the matching partition's
    // files (partition_exact proves kept == that partition's files and
    // < total — runtime evidence of partition-exact pruning via SQL).
    "q62_sql_partitioned" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sqlp").toString
      val store = new TableStore(s, wh)
      val cat = s"gq62x${System.nanoTime()}" // CatalogManager caches by name
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // Runtime (dynamic) file pruning on the READ path: a star join whose
    // fact-side filter arrives only through a dimension (the `tag` column
    // exists solely as dim data, so no static constraint can propagate).
    // Spark plans a dynamic-pruning subquery over the scan's
    // filterAttributes; GraftStatsScan.filter drops fact files whose
    // manifest key range no surviving dim key touches — the reference's
    // partitioned-fact headline (docs/README.md:326-329). runtime_pruned
    // is computed from the EXECUTED plan: fact files scanned < committed.
    "q63_runtime_pruning" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_dpp").toString
      val store = new TableStore(s, wh)
      val cat = s"gq63x${System.nanoTime()}" // CatalogManager caches by name
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // §2A A14 via SQL: the DSv2 GraftCatalog resolves store tables in
    // plain SQL incl. `VERSION AS OF` time travel.
    "q44_sql_catalog" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_cat").toString
      val store = new TableStore(s, wh)
      val ev = Tables.load(s, dir, "events")
      store.commit("ev", ev.filter(col("ts") < lit("2024-01-15")), "create")
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-15")))
      // unique catalog name per invocation: CatalogManager caches instances
      val cat = s"gq44x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(
        s"""SELECT (SELECT count(*) FROM $cat.ns.ev VERSION AS OF 1) AS v1_n_rows,
           |       count(*) AS v2_n_rows,
           |       (SELECT count(*) FROM $cat.ns.`ev$$history`) AS n_snapshots
           |FROM $cat.ns.ev""".stripMargin)
    }),

    // §2A A16: bin-pack compaction preserves rows while packing files.
    "q23_compaction" -> ((s, dir) => {
      import s.implicits._
      val store = tmpStore(s)
      store.commit("ev", Tables.load(s, dir, "events").repartition(16), "create")
      val before = store.manifests("ev").last.files.size.toLong
      store.compact("ev", targetFileBytes = 1024L * 1024 * 1024)
      val after = store.manifests("ev").last.files.size.toLong
      val rows = store.read("ev").count()
      Seq((before, after, rows)).toDF("files_before", "files_after", "n_rows")
    }),

    // §2B correlated scalar subquery in predicate (TPC-DS q1 shape) —
    // through spark.sql so Catalyst's subquery decorrelation is exercised.
    "q06_corr_scalar_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.corrScalarSubquery)
    }),

    // §2B uncorrelated scalar subqueries cross-joined into one row (q88).
    "q07_scalar_subqueries" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.scalarSubqueries)
    }),

    // §2B RANK() over partition + rank-based top-k (q67 shape).
    "q08_window_rank" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
      // Aggregate below the join: p_partkey is part's key, so grouping by
      // (p_brand, p_partkey) ≡ grouping lineitem by l_partkey and
      // attaching the brand afterwards — the join consumes |part|-sized
      // input and the |lineitem|-sized join result is never re-shuffled
      // (Catalyst has no aggregate-pushdown rule to find this itself).
      val rev = li.groupBy(col("l_partkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .join(p.select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("revenue").desc, col("p_partkey"))
      // rank over the exact decimal; only the OUTPUT column is double.
      rev.withColumn("rk", rank().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("p_partkey"),
          col("revenue").cast(DoubleType).as("revenue"), col("rk"))
        .orderBy(col("p_brand"), col("rk"), col("p_partkey"))
    }),

    // §2B cumulative frame ROWS UNBOUNDED PRECEDING..CURRENT ROW (q51).
    "q09_window_cumulative" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val daily = li
        .groupBy(col("l_returnflag"), col("l_shipdate").cast(DateType).as("ship_day"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("day_rev"))
      // the cumulative window sum runs over the exact decimal (DuckDB's
      // segment-tree window agg doesn't sum doubles left-to-right); only
      // the final projection converts to double.
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("ship_day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cume_rev", sum(col("day_rev")).over(w).cast(DecimalType(18, 4)))
        .select(col("l_returnflag"), col("ship_day"),
          col("day_rev").cast(DoubleType).as("day_rev"),
          col("cume_rev").cast(DoubleType).as("cume_rev"))
        .orderBy(col("l_returnflag"), col("ship_day"))
    }),

    // §2B analytic AVG over partition + deviation filter (q47/q53/q89
    // shape). The partition average is exact-sum::double / count so it is
    // bit-identical across engines.
    "q10_window_avg_deviation" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
      val monthly = li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("month", col("l_shipdate")).cast(DateType).as("ship_month"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("rev"))
      val w = Window.partitionBy(col("p_brand"))
      monthly
        .withColumn("brand_avg",
          sum(col("rev")).over(w).cast(DoubleType) / count(col("rev")).over(w))
        .filter(col("rev").cast(DoubleType) > lit(1.3) * col("brand_avg"))
        .select(col("p_brand"), col("ship_month"),
          col("rev").cast(DoubleType).as("rev"))
        .orderBy(col("p_brand"), col("ship_month"))
    }),

    // §2B ROLLUP + GROUPING() flags (q5/q27/q67 shape).
    "q11_rollup_grouping" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(dsumd(col("o_totalprice")).as("total"), count(lit(1)).as("n_orders"),
          grouping(col("o_orderstatus")).as("g_s"),
          grouping(col("o_orderpriority")).as("g_p"))
        .select(
          when(col("g_s") === 1, lit("ALL")).otherwise(col("o_orderstatus"))
            .as("order_status"),
          when(col("g_p") === 1, lit("ALL")).otherwise(col("o_orderpriority"))
            .as("order_priority"),
          col("total"), col("n_orders"))
        .orderBy(col("order_status"), col("order_priority"))
    }),

    // §2B COUNT(DISTINCT) (q16/q28/q94 shape).
    "q12_count_distinct" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // §2B STDDEV_SAMP (q17/q39 shape) — computed from exact decimal sums
    // (sqrt((Σx² − (Σx)²/n)/(n−1))) so the value is deterministic across
    // engines, unlike a streaming double accumulation.
    "q13_stats_stddev" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"), 2)).as("s1"),
          sum(dec(col("l_quantity") * col("l_quantity"), 2)).as("s2"))
        .select(col("l_returnflag"), col("n_items"),
          (col("s1").cast(DoubleType) / col("n_items")).as("mean_qty"),
          sqrt((col("s2").cast(DoubleType)
            - col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / col("n_items"))
            / (col("n_items") - 1)).as("stddev_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // §2B INTERSECT + EXCEPT (q8/q14/q38/q87 shape).
    "q14_setops" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      def custs(from: String, until: String) =
        o.filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
          .select(col("o_custkey"))
      val flagged = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      custs("1996-01-01", "1997-01-01")
        .intersect(custs("1997-01-01", "1998-01-01"))
        .except(flagged)
        .orderBy(col("o_custkey"))
    }),

    // §2B CASE WHEN conditional-agg bucketing (q50/q62/q99 shape).
    "q15_case_buckets" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val d = datediff(col("l_shipdate").cast(DateType), col("o_orderdate").cast(DateType))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(d <= 30, 1).otherwise(0)).as("d30"),
          sum(when(d > 30 && d <= 60, 1).otherwise(0)).as("d60"),
          sum(when(d > 60 && d <= 90, 1).otherwise(0)).as("d90"),
          sum(when(d > 90, 1).otherwise(0)).as("d_over"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),

    // §2B FULL OUTER JOIN + COALESCE null handling (q51/q97 shape).
    "q16_full_outer_join" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      def monthly(flag: String, out: String) =
        li.filter(col("l_returnflag") === flag)
          .groupBy(date_trunc("month", col("l_shipdate")).cast(DateType).as("ship_month"))
          .agg(dsum(col("l_extendedprice"), 2).as(out))
      val zero = lit(0).cast(DecimalType(18, 2))
      monthly("A", "rev_a").join(monthly("R", "rev_r"), Seq("ship_month"), "full_outer")
        .select(col("ship_month"),
          coalesce(col("rev_a"), zero).cast(DoubleType).as("rev_a"),
          coalesce(col("rev_r"), zero).cast(DoubleType).as("rev_r"))
        .orderBy(col("ship_month"))
    }),

    // §2B LEFT OUTER JOIN + agg over nullable side (q93 shape).
    "q17_left_join_returns" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val ret = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val zero = lit(0).cast(DecimalType(18, 2))
      o.join(ret, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("l_extendedprice")), zero).cast(DoubleType)
            .as("returned_value"))
        .orderBy(col("o_orderstatus"))
    }),

    // §2B HAVING vs uncorrelated scalar subquery (q23a/q44 shape).
    "q18_having_scalar" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val counts = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_items"))
      val thr = counts.agg(
        (lit(1.5) * sum(col("n_items")).cast(DoubleType) / count(lit(1))).as("thr"))
      counts.crossJoin(thr).filter(col("n_items") > col("thr"))
        .select(col("l_partkey"), col("n_items"))
        .orderBy(col("l_partkey"))
    }),

    // §2B cross join of ascending × descending rank tables (q44 shape).
    "q19_crossjoin_rank" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val rev = li.groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("rev"))
      val asc = rev.select(col("l_suppkey").as("supp_worst"),
        rank().over(Window.orderBy(col("rev").asc, col("l_suppkey").asc))
          .cast(LongType).as("rnk"))
      val desc = rev.select(col("l_suppkey").as("supp_best"),
        rank().over(Window.orderBy(col("rev").desc, col("l_suppkey").desc))
          .cast(LongType).as("rnk"))
      asc.join(desc, Seq("rnk")).filter(col("rnk") <= 5)
        .select(col("rnk"), col("supp_best"), col("supp_worst"))
        .orderBy(col("rnk"))
    }),

    // §2B string expressions: SUBSTR, ||, LIKE, UPPER, IN-list (q8/q23/
    // q84/q91 shape) over the documents table.
    "q24_string_funcs" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.filter(col("lang").isin("en", "de", "fr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(when(col("text").like("%the%"), 1).otherwise(0)).as("n_like_the"),
          min(substring(col("text"), 1, 12)).as("min_prefix"),
          max(upper(col("source"))).as("max_source"))
        .withColumn("label", concat(col("lang"), lit(":"), col("max_source")))
        .orderBy(col("lang"))
    }),

    // §2B date ± INTERVAL join predicate (q32/q94 shape).
    "q25_date_interval" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_shipped_30d"))
        .orderBy(col("o_orderpriority"))
    }),

    // §2B manual lag via rn self-join of a CTE (q47/q57 shape).
    "q26_selfjoin_lag" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
      val monthly = li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("month", col("l_shipdate")).cast(DateType).as("ship_month"))
        .agg(dsum(col("l_extendedprice"), 2).as("rev"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("p_brand")).orderBy(col("ship_month"))).cast(LongType))
      val lagged = monthly.select(col("p_brand").as("b2"), col("rn").as("rn2"),
        col("rev").as("prev_rev"))
      monthly.join(lagged,
          col("p_brand") === col("b2") && col("rn") === col("rn2") + 1)
        .select(col("p_brand"), col("ship_month"),
          col("rev").cast(DoubleType).as("rev"),
          col("prev_rev").cast(DoubleType).as("prev_rev"))
        .orderBy(col("p_brand"), col("ship_month"))
    }),

    // §2B UNION ALL channel combination (q5/q71/q75/q76 shape).
    "q27_union_all_channels" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      def channel(status: String, name: String) =
        o.filter(col("o_orderstatus") === status)
          .select(lit(name).as("channel"),
            date_trunc("year", col("o_orderdate")).cast(DateType).as("order_year"),
            col("o_totalprice"))
      channel("F", "fulfilled").unionAll(channel("O", "open"))
        .groupBy(col("channel"), col("order_year"))
        .agg(dsumd(col("o_totalprice")).as("total"), count(lit(1)).as("n_orders"))
        .orderBy(col("channel"), col("order_year"))
    }),

    // §2B correlated EXISTS ×2 (q10/q35 shape) through Catalyst's
    // RewritePredicateSubquery.
    "q29_correlated_exists" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.correlatedExists)
    }),

    // §2B UNION (distinct) — q38-style wrapper.
    "q43_union_distinct" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      def keys(from: String, until: String) =
        o.filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
          .select(col("o_custkey"))
      keys("1996-01-01", "1997-06-01").union(keys("1997-01-01", "1998-01-01"))
        .distinct()
        .orderBy(col("o_custkey"))
    }),

    // custom operator: gap-based batch sessionization (two windows, one
    // shuffle) — batch twin of the streaming flatMapGroupsWithState path.
    "q45_batch_sessions" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      graft.operators.AsOfJoin.sessionizeBatch(ev, "user_id", "ts", 1800)
        .groupBy(col("user_id"))
        .agg(max(col("session_seq")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // custom operator: backward AS-OF JOIN (point-in-time lookup) via the
    // union + last_value-window plan — checked against DuckDB's native
    // ASOF JOIN.
    "q46_asof_join" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOfJoin.asOfBackward(
          ev.select(col("event_id"), col("user_id"), col("ts")), purchases,
          "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"),
          col("value").as("last_purchase_value"))
        .orderBy(col("event_id"))
    }),

    // streaming-shaped tumbling-window aggregate run in batch mode (the
    // same expression CdcStream.windowedEventCounts uses on streams).
    "q47_windowed_counts" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dsumd(col("value")).as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // §2A A4/A5/A11-13 via pure SQL: CTAS → INSERT INTO (metadata-only
    // append) → 3-branch MERGE INTO (file-level copy-on-write through
    // SupportsRowLevelOperations) — the reference's headline write surface
    // (athena_functions.py:60-97 CTAS; updating_db_with_deltas_iceberg
    // .ipynb cell 26 MERGE), then an aggregate over the final table state.
    "q48_sql_writes" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sqlw").toString
      val cat = s"gq48x${System.nanoTime()}" // CatalogManager caches by name
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // ext: exact dedup (hash-groupBy on normalized-content fingerprint).
    "q30_dedup_exact" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.exact(docs, "doc_id", "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique"))
        .orderBy(col("source"))
    }),

    // ext: n-gram Jaccard near-dup pairs (shingle-join candidates, exact
    // verify) — finds the fixture's planted ~0.99-Jaccard near-dups.
    "q31_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ext: MinHash+LSH near-dup pairs (banded signatures → candidates →
    // exact Jaccard verify). Portable md5-derived hashes so the DuckDB
    // oracle replicates candidate generation bit-identically; ExtSpec also
    // asserts the result ⊆ q31's exact pairs.
    "q32_minhash_lsh" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, threshold = 0.8, portable = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ext: SimHash near-dup pairs (15-bit chunk banding + bit_count
    // verify). Portable md5-nibble token hashes ⇒ oracle-checkable.
    "q33_simhash" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6, portable = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ext: embedding-cosine near-dup, exact (the LSH-accelerated variant is
    // q35). Ids only — cosine internals differ across engines at ulp level.
    "q34_embedding_neardup" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val v = transform(col("embedding"), x => x.cast("double"))
      val a = e.select(col("vec_id").as("id_a"), v.as("__va"))
      val b = e.select(col("vec_id").as("id_b"), v.as("__vb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(Similarity.cosine(col("__va"), col("__vb")) >= 0.45)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ext: hyperplane-LSH-accelerated embedding near-dup (approximate
    // candidates, exact verify) — rows-only driver check; ExtSpec asserts
    // ⊆ q34.
    "q35_embedding_neardup_lsh" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.45)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ext: brute-force cosine top-k similarity search (ANN baseline).
    "q36_similarity_topk" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 100 === 0)
      Similarity.bruteForceTopK(e, queries, k = 10)
        .select(col("query_id"), col("rk"), col("vec_id"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // ext: repetition-based quality filter (Gopher-style): docs whose
    // distinct-token fraction collapses are flagged; integer sums keep the
    // aggregate deterministic, the single per-doc division is exact.
    "q59_repetition_filter" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      docs.select(col("source"), size(toks).as("nt"),
          size(array_distinct(toks)).as("nd"))
        .filter(col("nt") > 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt").cast("long")).as("total_tokens"),
          sum(col("nd").cast("long")).as("distinct_tokens"),
          sum(when(col("nd").cast("double") / col("nt") < 0.55, 1L).otherwise(0L))
            .as("n_repetitive"))
        .orderBy(col("source"))
    }),

    // ext: IVF ANN end-to-end with an in-query recall gate vs the exact
    // baseline (IVF candidates are data-dependent, so the driver anchors
    // on query count + the recall invariant rather than the pair set).
    // The gate runs on a deterministic md5-ordered sample of ≤64 queries:
    // recall is a per-query average, so a fixed sample estimates it
    // without the exact baseline's O(N·Q) growing with the query count —
    // at sf10 the all-queries gate cost 580 s of brute force; the sampled
    // gate is O(N·64). orderBy+limit compiles to TakeOrderedAndProject
    // (no global sort / single-partition window).
    "q56_ivf_ann_recall" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 100 === 0)
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(64)
      val exact = Similarity.bruteForceTopK(e, queries, k = 5)
        .select(col("query_id"), col("vec_id"))
      val approx = Similarity.ivfTopK(e, queries, k = 5, nlist = 8, nprobe = 4)
        .select(col("query_id"), col("vec_id"))
      val stats = exact.agg(count(lit(1)).as("n_exact"),
        countDistinct(col("query_id")).as("n_queries"))
      val hits = exact.join(approx, Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      stats.crossJoin(hits)
        .select(col("n_queries"),
          (col("n_hits").cast("double") / col("n_exact") >= 0.4).as("recall_ok"))
    }),

    // ext: n-gram-heuristic language ID distribution.
    "q37_text_langid" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.withColumn("lang_guess", TextAnalysis.langId(col("text")))
        .groupBy(col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang_guess"))
    }),

    // ext: quality scoring — bucketed counts per labeled lang (counts are
    // exact; the per-doc score itself is deterministic double arithmetic).
    "q38_text_quality" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.qualityFeatures(docs)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(when(col("quality_score") > 0.8, 1L).otherwise(0L)).as("n_high"),
          sum(when(col("quality_score") < 0.3, 1L).otherwise(0L)).as("n_low"))
        .orderBy(col("lang"))
    }),

    // ext: token counting + vocabulary statistics.
    "q39_token_stats" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("source"), col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("total_tokens"),
          countDistinct(col("tok")).as("vocab_size"))
        .orderBy(col("source"))
    }),

    // ext: document fingerprinting (normalized content hash), bucketed.
    "q40_fingerprint_buckets" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .groupBy(substring(col("fp"), 1, 1).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .orderBy(col("bucket"))
    }),

    // ext: the native vector expressions exposed through plain SQL text —
    // proves the SparkSessionExtensions / FunctionRegistry surface.
    "q42_vector_sql" -> ((s, dir) => {
      graft.functions.VectorFunctions.registerSql(s)
      Tables.registerAll(s, dir)
      val e = Tables.load(s, dir, "embeddings")
      // LSH candidates bound the pair space (same buckets as q35); the
      // native codegen'd vector_cosine SQL function verifies only those —
      // the 100 TB shape, not a cartesian product.
      // Weighted rep-level candidates: cosine is verified once per unique
      // vector pair and each row counts for all its exact-duplicate member
      // pairs — the duplicate-heavy 100 TB shape (an expanded member-pair
      // list re-verifies k² identical cosines per duplicated pair).
      val view = s"q42cand${System.nanoTime()}"
      Dedup.embeddingLshCandidatesWeighted(e, "vec_id", "embedding")
        .createOrReplaceTempView(view)
      s.sql(
        s"""SELECT CAST(SUM(c.weight) AS BIGINT) AS n_neardup_pairs
           |FROM $view c
           |JOIN embeddings a ON a.vec_id = c.id_a
           |JOIN embeddings b ON b.vec_id = c.id_b
           |WHERE vector_cosine(CAST(a.embedding AS ARRAY<DOUBLE>),
           |                    CAST(b.embedding AS ARRAY<DOUBLE>)) >= 0.45""".stripMargin)
    }),

    // NOT IN subquery → null-aware anti join (distinct plan + null
    // semantics vs the NOT EXISTS anti join of q05).
    "q60_not_in_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.notInSubquery)
    }),

    // Interval-bounded RANGE window frame (30-day moving revenue) —
    // value-based frame, distinct from q09's ROWS frame.
    "q61_range_frame" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.rangeFrameMovingSum)
    }),

    // Composition stress (reference sql/q88.sql shape): eight single-row
    // COUNT subqueries over the same 3-relation join with different time
    // slices and a disjunctive segment/quantity predicate, cross-joined
    // into one row. Identical SQL runs on both engines.
    "q55_eight_subqueries" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SharedSql.eightSubqueries)
    }),

    // SQL UPDATE + DELETE through the file-level copy-on-write row-level
    // operation path (runtime-group-filtered), then the final state.
    "q57_sql_update_delete" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sqlud").toString
      val cat = s"gq57x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // Schema evolution lifecycle via SQL: CTAS → ALTER TABLE ADD COLUMN
    // (metadata-only; old files read the column as null) → INSERT with the
    // new column → aggregate over the union of both generations.
    "q58_schema_evolution" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_sqlse").toString
      val cat = s"gq58x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // §2A A9 sampling: portable md5-keyed Bernoulli sample (the
    // `df.sample` variant is Sampling.bernoulli, spec-tested — this one is
    // re-derivable in any engine, hence oracle-checkable).
    "q54_sample_delta" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      graft.curation.Sampling.byKeyHash(o, "o_orderkey", 0.1)
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    }),

    // ext: multimodal pipeline — binary payload + typed metadata through
    // the real mapPartitions decode path (decoder stubbed; metadata math
    // is oracle-checkable).
    "q41_multimodal_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = Multimodal.ingestFromDocuments(Tables.load(s, dir, "documents"))
      Multimodal.decodeAndFeaturize(media, dim = 16).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_frames").cast(LongType)).as("total_frames"),
          sum(col("thumb_w").cast(LongType)).as("total_thumb_w"))
        .orderBy(col("kind"))
    }),

    // ext: PII detection + redaction — synthetic PII (email per doc, IPv4
    // on even ids, dashed phone on ids %3=0, all derived from doc_id so
    // the oracle can inject the identical text) counted and redacted in
    // one codegen'd projection; `chars_removed` proves the replacement
    // actually rewrote the text, `n_residual` proves idempotence (a tag
    // never re-matches a pattern).
    "q73_pii_redaction" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit(" call 555-867-5309"))
          .otherwise(lit("")))
      val red = Redaction.redact(pii)
      docs.select(col("source"), pii.as("__t"), red.as("__r"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Redaction.emailCount(col("__t")).cast("long")).as("n_emails"),
          sum(Redaction.ipv4Count(col("__t")).cast("long")).as("n_ips"),
          sum(Redaction.phoneCount(col("__t")).cast("long")).as("n_phones"),
          sum((length(col("__t")) - length(col("__r"))).cast("long"))
            .as("chars_removed"),
          sum((Redaction.emailCount(col("__r")) + Redaction.ipv4Count(col("__r"))
            + Redaction.phoneCount(col("__r"))).cast("long")).as("n_residual"))
        .orderBy(col("source"))
    }),

    // ext: URL/domain extraction — synthetic URLs injected from doc_id
    // (sharded cdn domain per doc + a fixed host on ids %5=0), domains
    // pulled by regex group and exploded, frequency per domain. The
    // explode is a narrow op; the only shuffle is the domain agg.
    "q74_url_domains" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val urled = concat(col("text"),
        lit(" see https://cdn"), (col("doc_id") % 40).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string"),
        when(col("doc_id") % 5 === 0, lit(" and http://www.test-site.io/home"))
          .otherwise(lit("")))
      docs.select(col("doc_id"),
          explode(Redaction.urlDomains(urled)).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    }),

    // ext: overlapping-window chunking (240-char windows, stride 180) —
    // per-doc chunk counts and exact char totals, grouped into a
    // distribution so the result is small at any corpus size.
    "q75_doc_chunking" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Chunking.chunkSummary(
        Chunking.chunk(docs, "doc_id", "text", size = 240, stride = 180),
        "doc_id")
        .orderBy(col("n_chunks"))
    }),

    // Streaming first-occurrence dedup, oracle-anchored: a deterministic
    // 10% slice of events replayed in event-time order as three
    // micro-batches through the parquet file-stream source; each event is
    // keyed (user_id, event_type, event-day) and
    // dropDuplicatesWithinWatermark emits exactly the first occurrence
    // per key — duplicates all share the key's day, so under the 48 h
    // delay the result equals a batch DISTINCT (the state-eviction
    // exactness window the operator documents). foreachBatch appends the
    // emitted uniques to the versioned store; the final count per
    // event_type must equal the batch oracle's COUNT(DISTINCT ...).
    "q77_stream_dedup" -> ((s, dir) => {
      val store = tmpStore(s)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val replay = new FileReplay(s, ev.schema)
      val keyed = replay.source
        .withColumn("day", date_trunc("day", col("ts")))
      val uniq = graft.streaming.CdcStream.dedupFirstWithinWatermark(
        keyed, Seq("user_id", "event_type", "day"), "48 hours")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      withConf(s, "spark.sql.shuffle.partitions" -> "8", noDataBatchesOff) {
        val q = uniq.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b0: DataFrame, _: Long) =>
            withBatch(b0) { b =>
              if (!b.isEmpty) {
                val out = b.select(col("user_id"), col("event_type"), col("day"))
                if (!store.exists("uniq")) store.commit("uniq", out, "create")
                else store.append("uniq", out)
              }
            }
          }
          .start()
        try replay.feedSlices(q, ev, "ts", 3)
        finally q.stop()
      }
      store.read("uniq")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique"))
        .orderBy(col("event_type"))
    }),

    // Table format: sort-clustered rewrite (rewrite_data_files with a
    // sort strategy) — ingest events hash-scattered so every file's
    // [min,max] on `value` spans the whole domain (pruning can skip
    // nothing), rewriteSorted on `value`, then prove the SAME stats-pruned
    // range read now skips files: `files_pruned` must be true, and the
    // aggregate must still match the plain SQL oracle exactly.
    "q78_sorted_rewrite" -> ((s, dir) => {
      val store = tmpStore(s)
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
    }),

    // Table format: write-audit-publish — half the events commit normally;
    // the other half is STAGED (invisible to readers, no version slot
    // consumed), audited via readStaged, then published metadata-only.
    // `staged_invisible` proves isolation (main still equals the first
    // half while staged), and the final aggregate = the full table.
    "q79_write_audit_publish" -> ((s, dir) => {
      val store = tmpStore(s)
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
    }),

    // Table format: z-order rewrite — events hash-scattered (no pruning on
    // any column), clustered on the z-curve of (user_id, value), then the
    // SAME stats-pruned reads on EACH dimension must skip files while
    // matching the SQL oracle exactly (a lexicographic sort would pass
    // only its leading column).
    "q81_zorder_rewrite" -> ((s, dir) => {
      val store = tmpStore(s)
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
    }),

    // Table format: named snapshot tags — a third of events is committed
    // and tagged as a dataset release, the rest appended after; snapshot
    // expiry then drops every untagged old version. The tagged snapshot
    // must stay byte-identical forever (expiry retains tag targets, as in
    // Iceberg) while `current` reflects all appends — the reproducibility
    // contract a training-data release needs.
    "q80_snapshot_tags" -> ((s, dir) => {
      val store = tmpStore(s)
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
    }),

    // ext: int8-quantized ANN — top-k in the compressed domain (cosine is
    // scale-invariant, so ranking needs only the int8 codes; the corpus
    // side streams 4× fewer bytes than float32). The oracle re-derives
    // the identical integer codes and ranking; recall vs the float top-k
    // is reported alongside (exact integers, not a float compare).
    "q82_quantized_topk" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 100 === 0)
      val qtop = Similarity.quantizedTopK(e, queries, k = 10)
        .select(col("query_id"), col("rk"), col("vec_id"))
      val ftop = Similarity.bruteForceTopK(e, queries, k = 10)
        .select(col("query_id"), col("vec_id").as("__fv"))
      // recall@10 numerator per query: |quantized ∩ float| (exact ints)
      val hits = qtop.join(ftop,
          qtop("query_id") === ftop("query_id") && qtop("vec_id") === ftop("__fv"))
        .groupBy(qtop("query_id").as("qid"))
        .agg(count(lit(1)).as("n_hits"))
      qtop.join(hits, qtop("query_id") === hits("qid"), "left")
        .select(col("query_id"), col("rk"), col("vec_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // ext: corpus-duplication quality signal (the C4/CCNet "duplicate
    // span fraction"): per document, the fraction of its distinct 8-token
    // shingles that also appear in ANY other document — rolled up per
    // source with a majority-duplicated doc count. Two shuffles (shingle
    // frequency agg + join back on the shingle), the canonical web-scale
    // shape; shingle generation itself is narrow codegen.
    "q83_dup_shingle_fraction" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val sh = docs.select(col("doc_id"), col("source"),
        explode(Dedup.shingles(col("text"), 8)).as("sh"))
      // shingles are distinct per doc, so count(*) = containing-doc count
      val cnt = sh.groupBy(col("sh")).agg(count(lit(1)).as("ndocs"))
      val perDoc = sh.join(cnt, Seq("sh"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("total_shingles"),
          sum(col("n_dup")).as("dup_shingles"),
          sum(when(col("n_dup") * 2 > col("n_sh"), 1L).otherwise(0L))
            .as("n_docs_majority_dup"))
        .orderBy(col("source"))
    }),

    // Streaming stream-stream interval join, oracle-anchored: left =
    // every 10th event, right = events %10==5, joined on user within a
    // 1-hour lookback. Both sides replay through parquet file-stream
    // sources in aligned event-time slices; 48 h watermarks bound the
    // join state, and (replay in order + lookback ≪ delay) makes the
    // streamed result equal the batch interval join exactly.
    "q84_stream_interval_join" -> ((s, dir) => {
      val store = tmpStore(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val left = ev.filter(col("event_id") % 10 === 0)
      val right = ev.filter(col("event_id") % 10 === 5)
      val lr = new FileReplay(s, left.schema)
      val rr = new FileReplay(s, right.schema)
      val joined = graft.streaming.CdcStream.intervalJoin(
        lr.source, rr.source, "user_id", "ts", "1 HOUR", "48 hours")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      // 4 state partitions: the interval join keeps BOTH sides' state, and
      // the dominant anchor cost is per-partition state-store commit files
      // per micro-batch (each feed = one batch × partitions × 2 sides),
      // not data volume — see the q68 note.
      withConf(s, "spark.sql.shuffle.partitions" -> "4", noDataBatchesOff) {
        val q = joined.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b0: DataFrame, _: Long) =>
            withBatch(b0) { b =>
              if (!b.isEmpty) {
                val out = b.select(col("r_event_type"), col("value"))
                if (!store.exists("pairs")) store.commit("pairs", out, "create")
                else store.append("pairs", out)
              }
            }
          }
          .start()
        try {
          val ls = timeSlices(left, "ts", 2)
          val rs = timeSlices(right, "ts", 2)
          // both sides of a slice land together and process as ONE batch
          (0 until 2).foreach { i =>
            FileReplay.landTogether(Seq(rr.stage(rs(i)), lr.stage(ls(i))))
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      store.read("pairs")
        .groupBy(col("r_event_type").as("r_type"))
        .agg(count(lit(1)).as("n_pairs"), dsumd(col("value")).as("total_l_value"))
        .orderBy(col("r_type"))
    }),

    // Streaming sessionization, oracle-anchored: the deterministic 10%
    // event slice replayed in event-time order; flatMapGroupsWithState
    // with a 30-min inactivity gap and event-time timeout emits closed
    // sessions; a far-future sentinel advances the watermark so every
    // open session flushes. Per-user session/event counts must equal the
    // batch gap-sessionization SQL (gap compares at full microsecond
    // precision on both sides).
    "q85_stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val store = tmpStore(s)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val sessions = graft.streaming.CdcStream.sessionize(
        replay.source.as[graft.streaming.Event], gapMinutes = 30, "1 hour")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      withConf(s, "spark.sql.shuffle.partitions" -> "8", noDataBatchesOff) {
        val q = sessions.toDF().writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b0: DataFrame, _: Long) =>
            withBatch(b0) { b =>
              if (!b.isEmpty) {
                val out = b.select(col("user_id"), col("n_events"))
                if (!store.exists("sess")) store.commit("sess", out, "create")
                else store.append("sess", out)
              }
            }
          }
          .start()
        try {
          timeSlices(ev, "ts", 3).foreach(b => replay.feed(q, b))
          // double sentinel, no-data batches off (see q68): sentinel 1
          // pushes the watermark past every session timeout, sentinel 2's
          // DATA batch fires the expired timers and emits the sessions.
          // The sentinel user's own sessions carry user_id = -1 and are
          // filtered at read, exactly as before.
          val maxMs = ev.agg(max(col("ts"))).head.getTimestamp(0).getTime
          Seq(72L, 144L).foreach { h =>
            replay.feed(q,
              Seq((-1L, new java.sql.Timestamp(maxMs + h * 3600 * 1000),
                "__sentinel", 0.0))
                .toDF("user_id", "ts", "event_type", "value"))
          }
        } finally q.stop()
      }
      store.read("sess")
        .filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events").cast("long")).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // Table format: changelog scan (CDC read) — v1 creates the even
    // events, v2 appends the odds, v3 MERGEs a delta (update value+100 on
    // event_id%4==0 except %8==4, which delete). readChangelog(0,3) must
    // emit exactly the logical row changes: the CoW rewrite's untouched
    // rows cancel in the content diff, updated rows surface as
    // delete(old)+insert(new), and planning touches only changed files.
    "q86_changelog_scan" -> ((s, dir) => {
      val store = tmpStore(s)
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
    }),

    // Table format: bucket-transform CDC merge — orders keyed by a
    // RANDOM md5 surrogate (min/max ranges useless) committed into 64
    // hash buckets; a small CDC delta (updates + inserts) must plan to
    // ≤ |delta-keys| buckets (`files_pruned`), merge through the normal
    // 2-branch path, and land on the oracle's final state exactly.
    "q87_bucketed_merge" -> ((s, dir) => {
      val store = tmpStore(s)
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
    }),

    // Table format: merge-on-read — three churn batches (re-image, delete,
    // re-image again) land as O(churn) delta + equality-delete files; NOT
    // ONE prior data file is rewritten (`no_rewrite` checks the v1 file
    // set survives verbatim and ≥3 delete files exist). The read applies
    // the deletes and must equal the oracle's last-image-wins state —
    // the write mode that stays flat where copy-on-write rewrites the
    // table at high update proportions.
    "q88_merge_on_read" -> ((s, dir) => {
      val store = tmpStore(s)
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
    }),

    // ext: deterministic corpus shuffle → 8 round-robin training shards;
    // per-shard count plus an order-sensitive checksum (sum of
    // shard_pos·doc_id) so the oracle verifies the exact permutation, not
    // just the partition sizes.
    "q76_corpus_shuffle" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      Sampling.deterministicShuffle(docs, "doc_id", numShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("shard_pos") * col("doc_id")).as("order_checksum"))
        .orderBy(col("shard"))
    }),

    // Table format as a streaming SINK: a deterministic slice of events
    // replayed as three micro-batches through the parquet file source
    // ([[FileReplay]]) and written with `writeStream.toTable` into a
    // GraftCatalog table — one epoch-stamped snapshot per batch. The
    // (queryId, epochId) manifest ledger is the exactly-once guard: a
    // restarted stream that replays a committed epoch finds the marker in
    // commitStaged and no-ops (StreamSinkSpec proves the replay path).
    // The streamed table must equal the batch slice; `epoch_ledger_ok`
    // asserts every streamed snapshot carries a ledger entry under one
    // stable query id with consecutive epochs.
    "q89_stream_sink" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 3)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_snk").toString
      val cat = s"gq89x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE TABLE $cat.ns.sink (event_id BIGINT, ts TIMESTAMP, " +
        "event_type STRING, value DOUBLE)")
      val replay = new FileReplay(s, ev.schema)
      val q = replay.source.writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_ck").toString)
        .toTable(s"$cat.ns.sink")
      try replay.feedSlices(q, ev, "ts", 3)
      finally q.stop()
      val store = new TableStore(s, wh)
      val epochs = store.manifests("sink")
        .filter(_.operation == "stream-append").flatMap(_.streamEpoch)
      val ledgerOk = epochs.nonEmpty &&
        epochs.map(_._1).distinct.size == 1 &&
        epochs.map(_._2).sorted == (0L until epochs.size.toLong)
      s.table(s"$cat.ns.sink")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("epoch_ledger_ok", lit(ledgerOk))
        .orderBy(col("event_type"))
    }),

    // Streaming CDC upsert sink (merge-on-read): base = an events slice;
    // the CDC stream carries updated images (+1000 on %3==1) and delete
    // markers (%3==2), replayed as three micro-batches through the parquet
    // file source. Each batch applies as ONE atomic O(churn) snapshot
    // (applyCdcMoR: new images + one delete file; nothing rewritten) with
    // the (queryId, batchId) exactly-once stamp. Final table state must
    // equal the batch-computed expectation; `epoch_ledger_ok` asserts one
    // stable query id over consecutive epochs and that no data file of the
    // base snapshot was rewritten.
    "q90_stream_upsert_mor" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 4)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val store = tmpStore(s)
      store.commit("state", base, "create")
      val v1Files = store.manifests("state").maxBy(_.version)
        .files.map(_.path).toSet
      val cdc = base.filter(col("event_id") % 3 === 1)
        .withColumn("value", col("value") + 1000.0)
        .withColumn("_deleted", lit(false))
        .unionByName(base.filter(col("event_id") % 3 === 2)
          .withColumn("_deleted", lit(true)))
      val replay = new FileReplay(s, cdc.schema)
      val q = graft.streaming.CdcStream.upsertMoRSink(
        replay.source, store, "state", Seq("event_id"), "_deleted",
        java.nio.file.Files.createTempDirectory("graft_ck").toString)
      try replay.feedSlices(q, cdc, "ts", 3)
      finally q.stop()
      val ms = store.manifests("state")
      val epochs = ms.filter(_.operation == "cdc_mor").flatMap(_.streamEpoch)
      val ledgerOk = epochs.nonEmpty &&
        epochs.map(_._1).distinct.size == 1 &&
        epochs.map(_._2).sorted == (0L until epochs.size.toLong) &&
        v1Files.subsetOf(ms.maxBy(_.version).files.map(_.path).toSet)
      store.read("state")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .withColumn("epoch_ledger_ok", lit(ledgerOk))
        .orderBy(col("event_type"))
    }),

    // Dynamic partition overwrite (Iceberg's overwrite semantics; the
    // daily re-materialization pattern): events ingested partitioned on
    // event_type, then `INSERT OVERWRITE` under partitionOverwriteMode=
    // dynamic rewrites ONE partition (the lexicographically-first type,
    // value+500) — every other partition must keep its ORIGINAL files
    // (`untouched_kept`, a metadata-only decision over the manifest), and
    // the final state must match the batch oracle exactly.
    "q91_dynamic_overwrite" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_dow").toString
      val cat = s"gq91x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // Metadata-only aggregates (Iceberg's `SELECT count(*)` answer): an
    // unfiltered, ungrouped COUNT(*)/MIN/MAX over a catalog table is
    // served from the manifest's footer-harvested row counts and min/max
    // — the plan collapses to a LocalTableScan and reads ZERO data files
    // at ANY table size (`metadata_only` asserts no scan node survives in
    // the executed plan). Values must still match the DuckDB oracle
    // exactly, proving the stats round-trip the data.
    "q92_metadata_agg" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val wh = java.nio.file.Files.createTempDirectory("graft_magg").toString
      val cat = s"gq92x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // Metadata-only aggregates, grouped: COUNT/MIN/MAX GROUP BY an
    // identity partition column — each partitioned file holds exactly one
    // partition tuple, so grouping files by tuple IS grouping rows by
    // value, and the per-partition answer is a driver-side manifest fold
    // (Iceberg's `$partitions` rollup as a plain SQL GROUP BY). Still
    // zero data files read; values must hash-match the DuckDB oracle.
    "q93_metadata_agg_grouped" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_mgg").toString
      val cat = s"gq93x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // Partition evolution (Iceberg's headline spec flexibility): the first
    // half of events lands identity-partitioned on event_type; the spec
    // then evolves METADATA-ONLY to bucket(16, event_id) and the second
    // half lands bucketed. `evo_ok` asserts the evolution moved no data
    // (same files before/after the spec commit), old files still prune on
    // their identity value, a key lookup prunes new bucketed files while
    // conservatively hitting every old file, and the mixed-layout read
    // must equal the whole-table oracle exactly.
    "q94_partition_evolution" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val store = tmpStore(s)
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
    }),

    // SQL reads over a merge-on-read table: the DSv2 scan applies the
    // equality deletes itself (per-sequence-group parquet scans + a
    // broadcast delete filter — GraftMorScan), so the same q88 CDC state
    // is read through plain `spark.sql` with NO compaction. `mor_scan`
    // asserts the plan actually went through the MoR scan and that no
    // base data file was rewritten.
    "q95_mor_sql_read" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_msr").toString
      val cat = s"gq95x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // Storage-partitioned SQL write: INSERT INTO a bucket-partitioned
    // table resolves the catalog's `bucket(n, key)` V2 function for write
    // clustering (Spark shuffles by OUR md5 arithmetic) and the writer
    // derives each row's bucket directory — so SQL-written files land one
    // per touched bucket with the exact layout library writes produce.
    // `bucketed_ok` asserts every staged file carries a bucket value,
    // clustering held (files == touched buckets, not tasks × buckets),
    // and a key lookup prunes; the read-back must equal the oracle.
    "q96_bucket_sql_write" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val wh = java.nio.file.Files.createTempDirectory("graft_bsw").toString
      val cat = s"gq96x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // Storage-partitioned JOIN (Iceberg's SPJ): orders and lineitem are
    // ingested co-bucketed on their order key (32 md5 buckets); with
    // v2 bucketing enabled both scans report bucket(32, key)
    // KeyGroupedPartitioning through the catalog's bucket() function and
    // Spark plans the fact-fact equi-join with ZERO shuffle below the
    // join — the repeated-big-join answer at 100 TB, where re-shuffling
    // both sides every run dwarfs the join itself. `spj_zero_shuffle`
    // asserts no exchange exists under the join node; the aggregate above
    // still shuffles normally and must match the oracle exactly.
    "q97_spj_join" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val store = tmpStore(s)
      store.commitBucketed("ord", o, "o_orderkey", numBuckets = 32, "create")
      store.commitBucketed("li", l, "l_orderkey", numBuckets = 32, "create")
      val cat = s"gq97x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", store.warehouse)
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
    }),

    // ext: portable k-means over the embedding corpus — fixed-point
    // integer centroids (scale 128, round-half-up) over int8-quantized
    // codes, so assignment distances and argmins are EXACT in both int64
    // and float64 and the oracle replays the full 4-iteration run
    // bit-identically. Per iteration: one scan of the checkpointed codes,
    // assignment as a pure projection against literal centroids (no join,
    // no shuffle), one partial-aggregated k×dim shuffle. The clustering
    // stage of SemDeDup and of cluster-balanced data mixing.
    "q98_kmeans" -> ((s, dir) =>
      KMeans.assign(Tables.load(s, dir, "embeddings"), k = 8, iters = 4)),

    // ext: SemDeDup — semantic near-duplicate removal: all-pairs
    // quantized-cosine ONLY within each k-means cluster (the cluster step
    // bounds the quadratic term; k grows with the corpus), exact integer
    // threshold test, drop every doc with a smaller-id near-twin.
    "q99_semdedup" -> ((s, dir) =>
      KMeans.semDedup(Tables.load(s, dir, "embeddings"),
        k = 8, iters = 4, thrPct = 90)),

    // format: row-level SQL writes over a merge-on-read table — the
    // rewrite's scan reads THROUGH the equality deletes (dead rows are
    // never copied into replacement files), and the commit drops every
    // delete file the rewrite made dead. DELETE runs against one MoR
    // overlay (and, being unboundable by stats, rewrites every file —
    // shearing the overlay off entirely, asserted in `mor_write_ok`);
    // MERGE then runs against a SECOND overlay, where a dead key must
    // plan as NOT MATCHED and re-insert.
    "q100_mor_sql_write" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_msw").toString
      val cat = s"gq100x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // format: merge-on-read minor compaction (`rewrite_delete_files`) —
    // consolidate the equality-delete overlay (dedup keys to their max
    // sequence, merge sequence classes masking the same file set, drop
    // dangling ones) WITHOUT touching a data file: the maintenance action
    // a continuous CDC stream needs when per-epoch delete files accrete
    // into a read-time tax. The anchor builds a 4-commit overlay with a
    // duplicated key, CALLs the procedure, and must read identically
    // through the consolidated overlay — with fewer delete files and
    // byte-identical data files.
    "q101_rewrite_delete_files" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_rdf").toString
      val cat = s"gq101x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // format: `add_files` in-place migration — adopt the fixture's OWN
    // parquet file as a snapshot without copying a byte (the only sane
    // 100 TB ingest for an already-parquet corpus: one manifest write vs
    // a full CTAS rewrite). The adopted file is referenced by absolute
    // URI, footer-stat harvested (prunable like native files), and
    // composes with a native append; expiry must never delete it (the
    // table borrows the file, it does not own it).
    "q102_add_files" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val wh = java.nio.file.Files.createTempDirectory("graft_addf").toString
      val cat = s"gq102x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // pipeline: domain-mixture sampling to a token budget — the "data
    // mixing" step (so much of each source domain) as a DETERMINISTIC
    // downsample: per-domain integer token targets from mixture weights,
    // selection by exclusive running-token offset in md5(doc_id) order.
    // The per-domain prefix sum is distributed via md5-prefix buckets
    // (no whole-domain single-task window), so one scan + one shuffle at
    // any corpus size. Weights 1:2:3:4 by source index mod 4, 10k budget.
    "q103_domain_mixture" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.withColumn("tok",
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long"))
      val sel = graft.ext.Mixing.sampleToBudget(withTok, "doc_id", "source",
        "tok", budgetTokens = 10000L, parts = mixingParts)
      graft.ext.Mixing.mixtureSummary(sel, "source")
        .select(col("source"), col("n_docs"), col("sum_tokens"))
        .orderBy(col("source"))
    }),

    // pipeline: hashed-feature linear quality classifier — the fastText
    // application shape (token → hash bucket → weight → sum → threshold)
    // as ONE codegen'd projection: no explode, no join, no shuffle of the
    // corpus. Integer-exact end to end, so the oracle replays the scores
    // bit-for-bit.
    "q104_quality_classifier" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.withColumn("score", graft.ext.QualityModel.score(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") >= 0L, 1L).otherwise(0L)).as("n_keep"),
          sum(col("score")).as("sum_score"))
        .orderBy(col("source"))
    }),

    // pipeline: repeated-span coverage — exact substring dedup's
    // token-window formulation (duplicated ≥8-token spans marked across
    // documents, the verbatim-boilerplate case document-level dedup can't
    // see). One explode + one window-key shuffle; per-doc interval union
    // bounds the window function by document length.
    "q105_span_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cov = graft.ext.SpanDedup.coverage(docs, "doc_id", "text", w = 8)
      docs.select(col("doc_id"), col("source"))
        .join(cov, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("dup_tokens")).as("dup_tokens"),
          sum(when(col("dup_tokens") > 0L, 1L).otherwise(0L))
            .as("n_docs_with_dup"))
        .orderBy(col("source"))
    }),

    // format: CHECK constraints (Delta-style) — a named SQL predicate
    // validated against existing rows at ADD time, then enforced PER ROW
    // inside every write job (append / SQL INSERT / MoR upsert): the
    // violating batch aborts pre-commit and the table is untouched. The
    // anchor adds a constraint via CALL, proves a violating SQL INSERT
    // and a violating append both bounce (state unchanged), lands a
    // conforming delta, and reads back the final state.
    "q106_check_constraints" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_cons").toString
      val cat = s"gq106x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // format: POSITIONAL delete files (Iceberg v2's second delete kind) —
    // predicate DELETE as (file, row-index) markers from the scan's
    // `_metadata` columns: no data file touched, no key columns needed
    // (works on keyless tables), one filter-pushed scan + O(matched)
    // delete write. A later append matching the old predicate SURVIVES
    // (positions name old files, not values) — semantics equality
    // deletes cannot express.
    "q107_positional_delete" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val store = tmpStore(s)
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
    }),

    // format: standing write sort order (Iceberg `WRITE ORDERED BY`) —
    // declared once via CALL, every subsequent write range-clusters and
    // sorts on the columns, so files cover narrow disjoint ranges and
    // min/max pruning works on every future scan without maintenance
    // rewrites. The anchor proves a point lookup skips files of the
    // ordered append and that content is untouched.
    "q108_write_order" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_wo").toString
      val cat = s"gq108x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // streaming: bounded-backlog streaming reads — reader option
    // maxVersionsPerTrigger throttles each micro-batch to N snapshots
    // via admission control (Delta's maxFilesPerTrigger shape): a stream
    // started against a deep table drains it in bounded batches instead
    // of one giant first batch. The anchor builds a 4-version backlog,
    // streams it 1 version per trigger, and proves ≥4 bounded batches
    // delivered exactly the table's rows.
    "q109_stream_rate_limit" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_rl").toString
      val cat = s"gq109x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val store = new TableStore(s, wh)
      store.commit("ev", ev.filter(col("event_id") % 40 === 0), "create")
      (1 to 3).foreach(i =>
        store.append("ev", ev.filter(col("event_id") % 40 === i * 10)))
      val sink = tmpStore(s)
      val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        val q = s.readStream.option("maxVersionsPerTrigger", "1")
          .table(s"$cat.ns.ev")
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b0: DataFrame, _: Long) =>
            withBatch(b0) { b =>
              if (!b.isEmpty) {
                nBatches.incrementAndGet()
                if (!sink.exists("out")) sink.commit("out", b, "create")
                else sink.append("out", b)
              }
            }
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      sink.read("out").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsumd(col("value")).as("total_value"))
        .withColumn("bounded_batches", lit(nBatches.get() >= 4L))
        .orderBy(col("event_type"))
    }),

    // format: writable branch refs — the multi-commit write-audit-publish
    // (Iceberg snapshot branching + fast_forward): two commits accumulate
    // on a branch while main serves the untouched fork snapshot; audit
    // reads the branch head; fast_forward publishes the chain as real
    // main versions metadata-only (files referenced in place) and
    // REFUSES a diverged main.
    "q110_branch_fast_forward" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_br").toString
      val cat = s"gq110x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // pipeline: training-shard materialization — the step AFTER sequence
    // packing: concatenate each bin's documents (corpus md5 order, <eos>
    // separators) into the physical shard text a trainer consumes. Per-
    // bin work is bounded by the token budget, never by corpus size: the
    // only wide op is the bin shuffle, and each group collects ≤ budget
    // tokens. Shards are hashed (not emitted) so the anchor stays small.
    "q111_shard_materialize" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      val packed = Packing.contiguousFill(withTok, "doc_id", "n_tok",
        budgetTokens = 2048L)
      packed.join(docs.select(col("doc_id"), col("text")), "doc_id")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          md5(concat_ws(" <eos> ",
            transform(
              array_sort(collect_list(struct(
                md5(col("doc_id").cast("string")).as("o"),
                col("doc_id").as("d"), col("text").as("t")))),
              x => x.getField("t")))).as("shard_md5"))
        .orderBy(col("bin"))
    }),

    // format: partial compaction (`rewrite_data_files(where => ...)`) —
    // bin-pack ONLY the files overlapping a stats range; everything else
    // is carried byte-identically. The 100 TB maintenance reality: a
    // table is compacted region by region, never wholesale. The anchor
    // builds 3 range-disjoint appends, compacts the low region, and
    // proves the high file survived untouched while content is equal.
    "q112_compact_where" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val store = tmpStore(s)
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
    }),

    // catalog: persisted SQL views — `CALL create_view` stores the SQL
    // in the warehouse and registers it for plain `SELECT * FROM v`;
    // the registration stores the UNANALYZED plan, so the view expands
    // over the LIVE tables and reflects an append made after its
    // creation without recreation. Metadata-only at any table size.
    // (Upstream Spark has no DSv2 ViewCatalog DDL wiring — Iceberg
    // routes CREATE VIEW through its own session extensions — so the
    // portable surface is the procedure.)
    "q113_sql_views" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_vw").toString
      val cat = s"gq113x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // format: expectation-routing writes (DLT expect_or_drop with
    // quarantine) — rows violating a CHECK constraint land in a tagged
    // quarantine table instead of aborting the batch: the triage mode
    // for pipelines where one bad row must not stall the feed. The
    // batch is scanned twice (batch-sized, never table-sized).
    "q114_quarantine" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val store = tmpStore(s)
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
    }),

    // format: incremental materialized-aggregate maintenance — the view
    // refreshes from the source's SNAPSHOT DELTA (metadata-planned
    // incremental read), never a rescan: at 100 TB a refresh costs the
    // appended files plus one rewrite of the group-count-sized view.
    // Exact decimal running sums make the folded view bit-identical to
    // a from-scratch aggregate at any refresh cadence.
    "q115_incremental_matview" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val store = tmpStore(s)
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
    }),

    // pipeline: inverted-index search — build the index as a TABLE
    // stored write-ordered by token (term lookups become manifest-level
    // file skips), then conjunctive top-k by summed term frequency. The
    // corpus-wide cost is one explode + one hash agg; a query touches
    // only the index files holding its terms' postings.
    "q116_inverted_search" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val store = tmpStore(s)
      val idx = graft.ext.Search.buildIndex(docs, "doc_id", "text")
      store.commit("idx", idx.repartitionByRange(4, col("token"))
        .sortWithinPartitions(col("token")), "create")
      val hits = graft.ext.Search.searchAll(store.read("idx"), "doc_id",
        Seq("table", "query"), k = 10)
      hits.orderBy(col("score").desc, col("doc_id"))
    }),

    // format: zero-copy shallow clone (Delta SHALLOW CLONE / Iceberg
    // `snapshot`) — one manifest write referencing the source's files by
    // absolute URI at ANY source size; the clone evolves independently
    // (its append never shows in the source) and its maintenance never
    // deletes the borrowed files.
    "q117_shallow_clone" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val wh = java.nio.file.Files.createTempDirectory("graft_cl").toString
      val cat = s"gq117x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // Hidden partitioning (Iceberg's headline UX): the table is
    // PARTITIONED BY days(ts) — a TRANSFORM of the timestamp the user
    // never materializes or filters on. The DSv2 write derives the day at
    // write time (clustered via the catalog's `days` function, one file
    // per day), and a plain `WHERE ts BETWEEN …` range prunes whole day
    // files through the derived partition value (TransformPruning maps
    // the ts bounds to day-string bounds; timestamps alone have no
    // orderable footer-stat story here). hidden_prune asserts the
    // EXECUTED scan read fewer files than the table holds.
    "q118_hidden_partitioning" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_hp").toString
      val cat = s"gq118x${System.nanoTime()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
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
    }),

    // Perplexity-style LM filtering (CCNet/Gopher): corpus-trained bigram
    // MLE scores per document, integer fixed-point end to end so the
    // DuckDB oracle replays every score bit-for-bit. The 20 lowest-scored
    // documents are the out-of-distribution tail a perplexity filter
    // would drop.
    "q119_ngram_lm_score" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ext.NgramLM.bigramScores(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"), col("lm_score"))
        .orderBy(col("lm_score"), col("doc_id")).limit(20)
    }),

    // Engine-portable cardinality sketch: KMV (k minimum md5-prefix
    // hashes) — the deterministic alternative to HLL, so the DuckDB
    // oracle replays the SKETCH itself bit-for-bit, not just a tolerance
    // band. within_10pct doubles as an accuracy gate against the exact
    // COUNT(DISTINCT) (same pattern as q56's ANN recall gate).
    "q120_kmv_distinct" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val approx = graft.ext.Sketches.kmvDistinct(
        ev, Seq("event_type"), "user_id", k = 64)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      approx.join(exact, "event_type")
        .withColumn("within_10pct",
          abs(col("approx_distinct") - col("exact_distinct")) * 10 <=
            col("exact_distinct"))
        .select(col("event_type"), col("approx_distinct"),
          col("exact_distinct"), col("within_10pct"))
        .orderBy(col("event_type"))
    }),

    // JL signed random projection (64 → 16 dims) ahead of ANN/clustering:
    // deterministic ±1 matrix from md5 parity over int8-quantized codes,
    // exact integer sums — the oracle re-derives the MATRIX and the
    // projections bit-for-bit. One pure projection pass, no shuffle.
    "q121_random_projection" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      graft.ext.Projection.signedProject(e, "vec_id", "embedding", 64, 16)
        .select(col("vec_id"),
          // unrolled over the FIXED 16 output dims (codegen arithmetic;
          // an aggregate() HOF here would re-introduce the interpreted
          // per-element lambda this query exists to avoid)
          (1 to 16).map(j => element_at(col("proj"), j) * j)
            .reduce(_ + _).as("proj_checksum"),
          (1 to 16).map(j => abs(element_at(col("proj"), j)))
            .reduce(_ + _).as("proj_l1"))
        .orderBy(col("vec_id")).limit(20)
    }),

    // Semi-structured extraction: the events fixture's `props` column is
    // a JSON string — `get_json_object` pulls fields inside the codegen'd
    // projection (no UDF, no pre-parse pass), the standard lakehouse
    // answer for raw event payloads before a schema is declared.
    "q122_json_extract" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
        .orderBy(col("event_type"))
    }),

    // ext: CCNet-style normalization before dedup — lowercase, digits→0,
    // punctuation→space, whitespace collapsed; the normalized form is the
    // DEDUP KEY (original bytes kept). Docs are injected with
    // deterministic formatting noise, and two boilerplate casings per
    // hundred ids normalize to the SAME fingerprint — so the normalized
    // distinct count drops below the raw one (the copies raw dedup
    // misses). Pure codegen projection + one agg; no shuffle before it.
    "q123_normalize_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val messy = when(col("doc_id") % 100 === 0,
          lit("Terms of Service apply. See section 4!"))
        .when(col("doc_id") % 100 === 1,
          lit("TERMS   of service APPLY;  see Section 4?"))
        .otherwise(concat(col("text"), lit(" NOISE-"),
          (col("doc_id") % 7).cast("string"),
          lit("!!  Extra   SPACES & 123 dots...")))
      val norm = graft.ext.Normalize.normalize(messy)
      docs.select(col("source"), messy.as("__m"), norm.as("__n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("__m")).cast("long")).as("chars_before"),
          sum(length(col("__n")).cast("long")).as("chars_after"),
          countDistinct(md5(col("__m"))).as("n_distinct_raw"),
          countDistinct(md5(col("__n"))).as("n_distinct_norm"))
        .orderBy(col("source"))
    }),

    // ext: C4-style line dedup with REWRITE — injected boilerplate lines
    // (two universal footers, an every-other-doc banner, a per-(id%5)
    // footer) duplicate across documents; each is kept only in its
    // smallest-id document and every document is reassembled from its
    // surviving lines in original order. Two line-key shuffles, linear
    // in corpus lines; reassembly bounded per document. The per-source
    // corpus_md5 pins the rewritten bytes exactly.
    "q124_line_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val lined = concat(col("text"),
        lit(" | all rights reserved example site"),
        lit(" | contact support at example dot com"),
        when(col("doc_id") % 2 === 0,
          lit(" | subscribe to our newsletter today")).otherwise(lit("")),
        lit(" | doc footer "), (col("doc_id") % 5).cast("string"))
      val rw = graft.ext.LineDedup.dedupLines(
        docs.select(col("doc_id"), lined.as("__t")),
        "doc_id", "__t", splitRegex = " \\| ", joinSep = " | ")
      rw.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_lines")).as("lines_total"),
          sum(col("n_kept")).as("lines_kept"),
          sum(length(col("rewritten")).cast("long")).as("chars_after"),
          md5(concat_ws(" <doc> ",
            transform(array_sort(collect_list(struct(col("doc_id"),
              col("rewritten").as("t")))), x => x.getField("t"))))
            .as("corpus_md5"))
        .orderBy(col("source"))
    }),

    // ext: SymSpell-blocked fuzzy vocabulary matching — exact
    // edit-distance-1 pairs over the corpus vocabulary without an
    // all-pairs join (delete-1 variants as blocking keys, candidates
    // verified with codegen'd levenshtein). Typos are injected
    // deterministically (2nd char of the first token -> 'x' on id%37
    // docs) so the pair set is non-trivial at every scale factor.
    "q125_fuzzy_vocab" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val ft = element_at(split(lower(col("text")), " "), 1)
      val typos = docs
        .filter(col("doc_id") % 37 === 0 && length(ft) >= 3)
        .select(concat(substring(ft, 1, 1), lit("x"),
          ft.substr(lit(3), lit(Int.MaxValue - 10))).as("tok"))
      val pairs = graft.ext.Fuzzy.typoPairs(toks.union(typos), "tok")
      pairs.groupBy(substring(col("t1"), 1, 1).as("letter"))
        .agg(count(lit(1)).as("n_pairs"),
          min(concat_ws(">", col("t1"), col("t2"))).as("example"))
        .orderBy(col("letter"))
    }),

    // ext: exact grouped quantiles with no global sort and no sketch —
    // corpus compressed to (group, value, count) by one hash agg, the
    // per-group cumulative window runs over the COMPRESSED frame
    // (bounded by the value domain, never row count), quantile picked by
    // integer cross-multiplication (engine-exact).
    "q126_exact_quantiles" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ext.Quantiles.exactQuantiles(docs, "source", "n_chars",
          Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
        .orderBy(col("source"))
    }),

    // ext: incremental corpus ingestion with cross-batch dedup — the
    // production shape of "dedup at ingest": fingerprints live in a
    // TABLE; each arriving batch dedups within itself (min doc per
    // fingerprint), anti-joins the fingerprint table, and appends both
    // the admitted docs and their fingerprints. Per-batch cost is the
    // batch size + one fingerprint-keyed join; the corpus is never
    // rescanned.
    "q127_incremental_ingest" -> ((s, dir) => {
      import s.implicits._
      val store = tmpStore(s)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("f"),
          (col("doc_id") % 3).as("batch"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("f").orderBy("doc_id")
      val out = (0L to 2L).map { b =>
        val batch = docs.filter(col("batch") === b)
        val inBatch = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "batch")
        val admitted =
          if (b == 0L) inBatch
          else inBatch.join(store.read("fps").select("f"), Seq("f"), "left_anti")
        if (b == 0L) {
          store.commit("corpus", admitted, "create")
          store.commit("fps", admitted.select("f"), "create")
        } else {
          store.append("corpus", admitted)
          store.append("fps", admitted.select("f"))
        }
        (b, batch.count(), admitted.count(), store.read("corpus").count())
      }
      out.toDF("batch", "n_in", "n_admitted", "corpus_rows")
        .orderBy(col("batch"))
    }),

    // ext+format: PERSISTENT IVF ANN index — build once (portable k-means
    // assignment + int8 codes persisted as a table PARTITIONED BY the
    // inverted-list id, centroids as a k-row table), then the query path
    // touches ONLY the persisted tables: rank centroids per query (pure
    // projection against the k collected centroids — bounded metadata),
    // read just the probed partitions (manifest-level file pruning — the
    // scan cost is nprobe/nlist of the corpus at ANY size), score in the
    // compressed int8 domain, top-10. The overlap columns measure probe
    // loss vs the full quantized brute force; files_pruned asserts every
    // probed read skipped files.
    "q128_persistent_ivf" -> ((s, dir) => {
      import s.implicits._
      val store = tmpStore(s)
      val emb = Tables.load(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
      val (assigned, cents) =
        KMeans.assignWithCentroids(emb, k = 8, iters = 4)
      val codes = Similarity.quantizeInt8(emb, "vec_id", "embedding")
        .select(col("vec_id"), col("codes"))
      store.commitPartitioned("ann_corpus",
        codes.join(assigned.select(col("vec_id"), col("cluster")), "vec_id"),
        Seq("cluster"), "create")
      store.commit("ann_centroids",
        cents.map(c => (c.cid, c.c.toSeq)).toDF("cid", "cent"), "create")
      // query path — persisted tables only
      val centsBack = store.read("ann_centroids").collect()
        .map(r => KMeans.Centroid(r.getInt(0), r.getSeq[Long](1).toArray))
        .sortBy(_.cid).toSeq
      val queries = emb.filter(col("vec_id") % 100 === 0)
      val qCodes = Similarity.quantizeInt8(queries, "vec_id", "embedding")
        .select(col("vec_id").as("query_id"),
          transform(col("codes"), x => x.cast("double")).as("__q"))
      val probes = KMeans.probe(qCodes, centsBack, nprobe = 2, "__q")
      val probed = probes.select("cluster").distinct()
        .collect().map(_.getInt(0)).sorted
      val totalFiles =
        store.manifests("ann_corpus").maxBy(_.version).files.size
      val pruned = probed.forall(c =>
        store.prunedFileCount("ann_corpus", "cluster", c, c)._1 < totalFiles)
      val corpusRead = probed.map(c =>
          store.readWhere("ann_corpus", "cluster", c, c))
        .reduce(_ unionByName _)
        .select(col("cluster"), col("vec_id"),
          transform(col("codes"), x => x.cast("double")).as("__c"))
      val scored = probes.join(corpusRead, "cluster")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__dq", Similarity.dot(col("__q"), col("__c")))
        .withColumn("__nq", Similarity.dot(col("__q"), col("__q")))
        .withColumn("__nc", Similarity.dot(col("__c"), col("__c")))
        .withColumn("qsim",
          when(col("__nq") === 0.0 || col("__nc") === 0.0, lit(-2.0))
            .otherwise(col("__dq") / (sqrt(col("__nq")) * sqrt(col("__nc")))))
      val wI = Window.partitionBy(col("query_id"))
        .orderBy(col("qsim").desc, col("vec_id"))
      val itop = scored.withColumn("rk", row_number().over(wI))
        .filter(col("rk") <= 10).select(col("query_id"), col("vec_id"))
      val btop = Similarity.quantizedTopK(emb, queries, 10)
        .select(col("query_id"), col("vec_id"))
      val ov = itop.join(btop, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("o"))
      qCodes.select(col("query_id")).distinct()
        .join(ov, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          sum(coalesce(col("o"), lit(0L))).as("overlap_sum"),
          min(coalesce(col("o"), lit(0L))).as("overlap_min"))
        .withColumn("files_pruned", lit(pruned))
    }),

    // ext: count-min sketch heavy hitters — frequency estimation whose
    // state is MERGEABLE (cell sums are associative: per-batch sketches
    // sum cell-wise into the union's sketch) and bounded (depth·width
    // rows at any corpus size). Build = one partial-aggregated shuffle;
    // estimates = min over depth cells, an overestimate by construction
    // (never_under must hold on every row). Deterministic md5 hashing —
    // the oracle replays the cells bit-for-bit.
    "q129_countmin_heavyhitters" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val cells = graft.ext.Sketches.countMinCells(toks, "tok",
        depth = 4, width = 512)
      val est = graft.ext.Sketches.countMinEstimate(toks, "tok", cells,
        depth = 4, width = 512)
      val exact = toks.groupBy(col("tok").as("value"))
        .agg(count(lit(1)).as("exact"))
      est.join(exact, "value")
        .withColumn("overcount", col("est") - col("exact"))
        .withColumn("never_under", col("est") >= col("exact"))
        .orderBy(col("exact").desc, col("value")).limit(15)
        .select(col("value"), col("exact"), col("est"), col("overcount"),
          col("never_under"))
    }),

    // source: JSONL corpus ingest — the de-facto LLM-corpus interchange
    // format (one JSON object per line). The fixture round-trips through
    // JSONL text files and is read back through the native JSON source
    // with an EXPLICIT schema (no driver-side inference pass — at 100 TB
    // schema inference is a full extra scan), then aggregated; the
    // oracle runs on the source-of-truth parquet, so equality proves the
    // round trip lost nothing (unicode escaping included).
    "q130_jsonl_ingest" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // One deterministic staging dir per fixture (overwritten on every
      // invocation, deleted at JVM exit) — bench reps and repeated
      // correctness runs reuse it instead of accumulating corpus-sized
      // copies under /tmp.
      val out = jsonlStagingDir(dir)
      docs.select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
        .write.mode("overwrite").text(out)
      val back = s.read.schema(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .json(out)
      back.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_text_len"),
          countDistinct(md5(col("text"))).as("n_distinct"))
        .orderBy(col("source"))
    }),

    // format: ANALYZE — snapshot-scoped per-column statistics (Iceberg's
    // ANALYZE/Puffin shape; served by `$stats` with explicit staleness).
    // Null counts ride ONE aggregate pass; NDV is the deterministic KMV
    // sketch — exact below k=256 distinct (lang/source/lang_nullable),
    // the engine-replayable estimate above (doc_id). The oracle
    // recomputes the KMV estimate from the same md5 prefixes.
    "q131_analyze_stats" -> ((s, dir) => {
      import s.implicits._
      val store = tmpStore(s)
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
    }),

    // ext+format: incremental inverted-index maintenance — the
    // NON-aggregate derived-table counterpart of the q115 matview. The
    // index is a token-clustered TABLE with a standing write order;
    // each refresh builds postings from the metadata-planned source
    // delta and APPENDS them (new docs' postings are disjoint rows — no
    // fold), O(delta) at any index size. The checksum pins the final
    // index bit-for-bit against a from-scratch build; both_incremental
    // asserts no refresh fell back to a full rebuild.
    "q132_incremental_index" -> ((s, dir) => {
      val store = tmpStore(s)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), (col("doc_id") % 3).as("b"))
      store.commit("corpus", docs.filter(col("b") === 0).drop("b"), "create")
      graft.ext.Search.createIndexTable(store, "corpus", "idx",
        "doc_id", "text")
      store.append("corpus", docs.filter(col("b") === 1).drop("b"))
      val (_, _, m1) = graft.ext.Search.refreshIndex(store, "corpus", "idx",
        "doc_id", "text")
      store.append("corpus", docs.filter(col("b") === 2).drop("b"))
      val (_, _, m2) = graft.ext.Search.refreshIndex(store, "corpus", "idx",
        "doc_id", "text")
      val idx = store.read("idx")
      val chk = idx.agg(count(lit(1)).as("n_postings"),
        sum(conv(substring(md5(concat_ws(":", col("token"), col("doc_id"),
            col("tf"))), 1, 12), 16, 10).cast("long") % 1000000)
          .as("index_checksum"))
      graft.ext.Search.searchAll(idx, "doc_id", Seq("spark", "table"), 10)
        .crossJoin(chk)
        .withColumn("both_incremental",
          lit(m1 == "incremental" && m2 == "incremental"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // format: SQL reads over POSITIONAL deletes, mixed with equality
    // deletes, without CALL compact — row positions come from the parquet
    // readers' row-index column (true within-file indexes, immune to
    // row-group skipping), so the scan keeps predicate pushdown and
    // per-split parallelism while anti-filtering the broadcast (file,pos)
    // mask; the equality lookup applies sequence semantics; parquet
    // vectorization survives via the per-batch row-id mapping. The anchor
    // asserts the plan used GraftPosMorScan AND stayed columnar, then
    // aggregates through it.
    "q133_pos_delete_sql" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = stagingWarehouse(s, "pds", dir)
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
    }),

    // Deterministic corpus-trained subword tokenizer (GreedyPiece:
    // WordPiece-style greedy longest-match over a vocab of all corpus
    // characters + the 64 heaviest multi-char substrings) — the REAL
    // token counter for packing/mixing/shard budgets, replacing the
    // whitespace approximation. Training is relational over DISTINCT
    // words; encoding is one codegen'd kernel call per document; the
    // oracle re-derives the vocab AND every count bit-for-bit (the
    // recursive greedy match replayed as a recursive CTE).
    "q134_subword_tokens" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val vocab = graft.ext.Subword.trainVocab(docs, "text",
        topMulti = 64, maxPieceLen = 5)
      val vchk = vocab.pieces.toSeq.toDF("piece").agg(
        count(lit(1)).cast("long").as("vocab_size"),
        sum(conv(substring(md5(col("piece")), 1, 12), 16, 10).cast("long")
          % 1000000).as("vocab_checksum"))
      docs.select(col("source"),
          TextAnalysis.tokenCount(col("text")).as("__ws"),
          graft.ext.Subword.tokenCount(col("text"), vocab).as("__sw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__ws").cast("long")).as("ws_tokens"),
          sum(col("__sw").cast("long")).as("subword_tokens"))
        .crossJoin(broadcast(vchk))
        .orderBy(col("source"))
    }),

    // Disjunctive BM25-style relevance top-k over the inverted index —
    // rational-idf variant (ln replaced by its exact rational argument;
    // libm ln is not correctly rounded across engines, IEEE +,*,/ are),
    // every double op in one pinned association order and per-term
    // partials summed in literal term order, so the DuckDB oracle
    // replays scores BIT-FOR-BIT (the fixed-point-kmeans portability
    // trick applied to ranking).
    "q135_bm25_search" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val idx = graft.ext.Search.buildIndex(docs, "doc_id", "text")
      graft.ext.Search.bm25TopK(idx, "doc_id",
        Seq("spark", "table", "data"), 15)
    }),

    // The subword tokenizer wired END-TO-END into a curation budget:
    // sequence packing (q69's contiguous fill, same md5 order and
    // prefix-sum scale shape) budgeted in REAL subword tokens from the
    // corpus-trained vocab instead of the whitespace approximation — the
    // token counter a trainer's 2048-token sequences actually bill
    // against. The oracle re-derives the vocab, replays every greedy
    // longest-match count, and repacks bit-for-bit.
    "q136_subword_packing" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val vocab = graft.ext.Subword.trainVocab(docs, "text",
        topMulti = 64, maxPieceLen = 5)
      val withTok = docs.select(col("doc_id"),
        graft.ext.Subword.tokenCount(col("text"), vocab).as("n_tok"))
      val packed = Packing.contiguousFill(withTok, "doc_id", "n_tok",
        budgetTokens = 2048L)
      Packing.binSummary(packed).orderBy(col("bin"))
    }),

    // The full curation chain composed END-TO-END, each stage's
    // SURVIVORS feeding the next — the shape a real pretraining-data
    // job runs, and the integration check the per-operator anchors
    // can't give: eval holdout → q70's language/quality/repetition gate
    // → exact dedup (min-id per fingerprint) → near-dup clustering
    // (keep each component's smallest id) → eval-8-gram
    // decontamination → q103's per-domain token-budget mixture →
    // deterministic shard assignment. Every stage is the already-
    // anchored operator applied unchanged; the final per-shard
    // (count, tokens, order checksum) is sensitive to every keep/drop
    // decision upstream, so a drift ANYWHERE in the chain — or in how
    // two stages compose (e.g. dedup reordering mixture's hash order)
    // — breaks the hash. Scale shape: narrow projections + the
    // operators' own bounded shuffles; nothing new materializes.
    "q137_pipeline_e2e" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val toks = TextAnalysis.tokens(col("text"))
      val gated = TextAnalysis.qualityFeatures(train)
        .withColumn("lang_guess", TextAnalysis.langId(col("text")))
        .withColumn("nd", size(array_distinct(toks)).cast("long"))
        .filter(col("lang_guess") === "en" && col("quality_score") > 0.3 &&
          col("n_tokens") > 0 &&
          col("nd").cast("double") / col("n_tokens") >= 0.55)
        .select(col("doc_id"), col("source"), col("text"))
      // survivor sets feed TWO consumers each (the next stage's keyed
      // probe AND the anti-join back onto themselves) — checkpoint them
      // so the gate/shingle work isn't recomputed per consumer; both are
      // post-filter frames, bounded by the kept corpus, and the blocks
      // are freed by the ContextCleaner when the frames go out of scope
      val exactKept = Dedup.exact(gated, "doc_id", "text").localCheckpoint()
      val losers = Dedup
        .nearDupComponents(exactKept, "doc_id", "text", n = 3, threshold = 0.8)
        .filter(col("doc_id") =!= col("component"))
        .select(col("doc_id"))
      val unique = exactKept.join(losers, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val dirty = Contamination
        .contaminatedIds(unique, evalSet, "doc_id", "text", n = 8)
      val clean = unique.join(dirty, Seq("doc_id"), "left_anti")
        .withColumn("tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      val sel = Mixing.sampleToBudget(clean, "doc_id", "source", "tok",
        budgetTokens = 10000L, parts = mixingParts)
      val sharded = Sampling.deterministicShuffle(sel, "doc_id", numShards = 8)
      sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("shard_pos") * col("doc_id")).as("order_checksum"))
        .orderBy(col("shard"))
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the lexical arm (q135's
    // BM25 top-k over the inverted index) and the vector arm (q36's exact
    // cosine top-k for one query embedding) — the standard RAG-ingestion
    // shape where score scales aren't comparable, so each arm contributes
    // 1/(60+rank) and ranks (integers) carry ALL the cross-engine
    // determinism: one IEEE division per arm summed in literal arm order,
    // so the oracle replays fused scores bit-for-bit. The arms keep their
    // own scale paths (postings file-skip; broadcast query × corpus scan);
    // fusion itself joins two ≤50-row lists.
    "q138_hybrid_retrieval" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val e = Tables.load(s, dir, "embeddings")
      val idx = graft.ext.Search.buildIndex(docs, "doc_id", "text")
      // rank windows run on the already-top-50 arms — bounded frames
      val wT = Window.orderBy(col("score").desc, col("doc_id"))
      val text = graft.ext.Search
        .bm25TopK(idx, "doc_id", Seq("spark", "table", "data"), 50)
        .withColumn("rank", row_number().over(wT).cast("long"))
        .select(col("doc_id"), col("rank"))
      val vec = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 50)
        .select(col("vec_id").as("doc_id"), col("rk").as("rank"))
      graft.ext.Search.rrfFuse(Seq(text, vec), "doc_id", "rank", k = 15)
        .select(col("doc_id"), col("rank_0").as("text_rank"),
          col("rank_1").as("vec_rank"), col("rrf"))
    }),

    // Adaptive per-domain quality cutoff: keep each source's top quartile
    // by quality score — the per-dump self-calibrating threshold pattern
    // (a fixed global cutoff over-prunes clean domains and under-prunes
    // noisy ones). The cutoff is the EXACT per-group 3/4 quantile
    // (integer cross-multiplication on counts — q126's machinery) of the
    // score QUANTIZED to a 2^-20 grid: one IEEE multiply + floor, bit-
    // identical across engines, and it bounds the quantile's compressed
    // (source, value) frame by the GRID (score range × 2^20 cells, a
    // constant) instead of the near-continuous raw-double domain, whose
    // distinct count grows with the corpus and would degenerate the
    // per-group cumulative window into a single-task row-count sort.
    // Scale: one hash-agg quantile over the bounded grid + one
    // broadcast-join filter pass; no corpus shuffle.
    "q139_adaptive_quality_cutoff" -> ((s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val scored = TextAnalysis.qualityFeatures(docs)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floor(col("quality_score") * lit(1048576.0)).cast("long")
            .as("score_units"))
      graft.ext.Quantiles
        .keepAboveGroupQuantile(scored, "source", "score_units", 3L, 4L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"),
          max(col("threshold")).as("threshold_units"),
          max(col("group_rows")).as("n_total"))
        .orderBy(col("source"))
    }),

    // Image near-dup detection over REAL decoded pixels: patterned 8×8
    // PNGs (planted per-family near-dups, integer pixel formula) round-
    // trip through ImageIO, average-hash to 64 bits by the integer
    // cross-multiplication `cellSum·64 > totalSum`, then pair up via the
    // 4×16-bit banded Hamming join — pigeonhole makes recall EXACT at
    // maxHamming 3 (≤3 differing bits can't touch all 4 bands), which is
    // what lets the oracle verify with a direct all-pairs replay of the
    // pixel/hash arithmetic (no PNG decode needed on its side). The
    // checksum pins WHICH pairs matched, not just how many.
    "q140_image_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val imgs = Multimodal.patternedImages(Tables.load(s, dir, "documents"))
      val hashes = Multimodal.imageAHash(imgs)
      Multimodal.aHashNearDupPairs(hashes, maxHamming = 3)
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("id_a") + col("id_b")).as("id_checksum"))
        .orderBy(col("hamming"))
    }),

    // Audio near-dup detection — q140's twin on the other real-decode
    // modality: patterned PCM-16 WAVs round-trip through AudioSystem,
    // the 64-window energy profile average-hashes by the same integer
    // bit rule, and the SAME modality-blind banded Hamming layer finds
    // the planted families. One shared near-dup engine across image and
    // audio is the design point; the oracle again replays the sample
    // arithmetic with no codec on its side.
    "q141_audio_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wavs = Multimodal.patternedAudio(Tables.load(s, dir, "documents"))
      val hashes = Multimodal.audioAHash(wavs)
      Multimodal.aHashNearDupPairs(hashes, maxHamming = 3)
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("id_a") + col("id_b")).as("id_checksum"))
        .orderBy(col("hamming"))
    }),

    // Temperature-scaled mixture (α = 1/2): per-domain token targets
    // proportional to sqrt(domain mass) — the standard multilingual
    // rebalance, upweighting small domains without hand-set weights.
    // Deterministic across engines because IEEE sqrt is correctly
    // rounded (unlike ln/pow), the normalizer is a fixed-order prefix
    // sum over the |domains|-row frame, and selection reuses q103's
    // exclusive md5-offset rule.
    "q142_temperature_mixture" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.withColumn("tok",
        TextAnalysis.tokenCount(col("text")).cast("long"))
      Mixing.sampleToTemperatureBudget(withTok, "doc_id", "source", "tok",
          budgetTokens = 10000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          max(col("target")).as("target"))
        .orderBy(col("source"))
    }),

    // Incremental NEAR-dup ingest — q127's production shape upgraded from
    // exact fingerprints to Jaccard: the corpus's distinct-shingle keys
    // live in a TABLE (clustered by key at scale); each arriving batch
    // exact-dedups within itself, joins its keys against the admitted
    // key table, and is rejected when some admitted doc clears the
    // integer-exact Jaccard gate (inter·5 ≥ union·4 → ≥ 0.8) — identical
    // text across batches is a jaccard-1.0 special case of the same rule.
    // Admitted docs append their keys+sizes; the corpus is never
    // rescanned, so per-batch cost is batch keys + one key-clustered
    // join at ANY corpus size.
    "q143_incremental_neardup_ingest" -> ((s, dir) => {
      import s.implicits._
      val store = tmpStore(s)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), md5(col("text")).as("f"),
          (col("doc_id") % 3).as("batch"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("f").orderBy("doc_id")
      val out = (0L to 2L).map { b =>
        val inBatch = docs.filter(col("batch") === b)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "batch")
          .localCheckpoint() // reused: keys, reject anti-join, count
        val keysB = Dedup.shingleKeySets(inBatch, "doc_id", "text", n = 3)
          .localCheckpoint()
        val sizesB = keysB.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_keys"))
        val rejected =
          if (b == 0L) inBatch.select(col("doc_id")).limit(0)
          else Dedup.nearDupIdsAgainst(keysB, store.read("nd_keys"),
            sizesB, store.read("nd_sizes"), "doc_id", num = 4L, den = 5L)
            .localCheckpoint() // consumed by the anti-join AND the count
        val admitted = inBatch.join(rejected, Seq("doc_id"), "left_anti")
        val keysA = keysB.join(admitted.select("doc_id"), Seq("doc_id"),
          "left_semi")
        val sizesA = sizesB.join(admitted.select("doc_id"), Seq("doc_id"),
          "left_semi")
        if (b == 0L) {
          store.commit("nd_corpus", admitted.select("doc_id", "f"), "create")
          store.commit("nd_keys", keysA, "create")
          store.commit("nd_sizes", sizesA, "create")
        } else {
          store.append("nd_corpus", admitted.select("doc_id", "f"))
          store.append("nd_keys", keysA)
          store.append("nd_sizes", sizesA)
        }
        (b, inBatch.count(), rejected.count(),
          store.read("nd_corpus").count())
      }
      out.toDF("batch", "n_in", "n_rejected", "corpus_rows")
        .orderBy(col("batch"))
    }),

    // ext: product-quantization ANN (Jégou et al. 2011) — the
    // memory-bound 100 TB similarity path: 4 sub-codebooks × 16
    // integer-Lloyd centroids over int8 slices, each vector stored as 4
    // code ids, query ranked by exact-integer asymmetric distance
    // (driver-built m×k lookup tables applied as a literal projection).
    "q144_pq_ann" -> ((s, dir) =>
      ProductQuantization.topK(Tables.load(s, dir, "embeddings"),
        queryId = 0L, k = 10, m = 4, ksub = 16, iters = 2)),

    // ext: DSIR importance resampling (Xie et al. 2023) — hashed-unigram
    // importance weights trained against the English slice (one
    // ≤1024-row bucket shuffle, weights applied as a codegen'd literal
    // projection), then per-source exact-quantile top-25% selection.
    "q145_dsir_selection" -> ((s, dir) =>
      Dsir.select(Tables.loadSpread(s, dir, "documents"), "text", "source",
          isTarget = col("lang") === "en", num = 3L, den = 4L)
        .select(col("doc_id"), col("source"), col("dsir_score"),
          col("threshold"), col("group_rows"))
        .orderBy(col("doc_id"))),

    // core: multi-table transaction (q146) — fact + dim land atomically
    // (single create-exclusive intent write, roll-forward recovery); a
    // second transaction is staged and abandoned mid-flight ("crash"
    // before its commit point), so its rows must be invisible to the
    // reads — the oracle sees only the committed pair.
    "q146_multi_table_txn" -> ((s, dir) => {
      val store = tmpStore(s)
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
    }),

    // core: atomic cross-table purge (q147) — the GDPR "forget these
    // customers everywhere" shape: ONE transaction stages merge-on-read
    // delete keys against orders (by custkey) AND lineitem (by the
    // derived orderkeys); both tables flip together at the intent write.
    // Reads go through the MoR overlay — no data file rewritten.
    "q147_txn_cross_purge" -> ((s, dir) => {
      val store = tmpStore(s)
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
    }),

    // operators: bucketed interval join (q148) — `BETWEEN` joins plan as
    // BroadcastNestedLoopJoin in stock Spark (O(N·M), broadcast-bound);
    // binning recovers a hash equi-join on the bucket key. Overlapping
    // $500-stride/$1000-wide price bands over lineitem, exact BETWEEN
    // residual filter inside the join, each pair produced exactly once.
    "q148_range_join" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select((col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"), col("l_quantity"))
      val bands = s.range(0, 210).select(
        col("id").as("band_id"),
        (col("id") * 50000L).as("lo"),
        (col("id") * 50000L + 99999L).as("hi"))
      graft.operators.RangeJoin
        .pointInRange(li, "cents", bands, "lo", "hi", bucketWidth = 100000L)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("total_qty"))
        .orderBy(col("band_id"))
    }),

    // curation: weight-proportional Bernoulli sampling (q149) — keep each
    // document with probability ∝ its n_chars (uniform PER TOKEN, not per
    // doc), decided by an int64 cross-multiply on a 28-bit md5 hash: no
    // floats, no shuffle, replayable on any engine.
    "q149_weighted_sample" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.curation.Sampling
        .weightedBernoulli(docs, "doc_id", "n_chars", expectedK = 400)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // curation: systematic PPS sampling (q150) — exactly k docs per
    // language, inclusion probability ∝ n_chars, selected by the pure
    // integer rule ⌊cum·k/W⌋ > ⌊(cum−w)·k/W⌋ over the md5-ordered
    // cumulative weight. One group shuffle, no floats.
    "q150_systematic_pps" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.curation.Sampling
        .systematicPps(docs, Seq("lang"), "doc_id", "n_chars", k = 30)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // ext: link-graph authority (q151) — fixed-point integer PageRank
    // (SCALE 10^12, damping 85/100, 5 rounds) over the bidirectional
    // customer↔supplier trade graph (edge weight = lineitem count).
    // Join-per-round distributed propagation with lineage cut each round;
    // bit-replayable: every step is int64 multiply + floor division.
    "q151_link_authority" -> ((s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(
          concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.unionByName(pairs.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      graft.ext.LinkAnalysis.pageRank(edges, "src", "dst", "w",
          iterations = 5)
        .orderBy(col("node"))
    }),

    // ext: mergeable sample-quantile sketch (q152) — exact rational
    // quantiles of a deterministic bottom-k md5 row sample, the
    // continuous-domain path where exactQuantiles' discrete contract
    // doesn't hold. One group shuffle over the data; O(1/√k) rank error;
    // per-batch sketches merge (bottom-k of union = bottom-k of merged
    // bottom-ks).
    "q152_sample_quantiles" -> ((s, dir) => {
      val ev = Tables.loadSpread(s, dir, "events")
      graft.ext.Quantiles.sampleQuantiles(ev, "event_type", "event_id",
          "value", k = 200,
          pcts = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("event_type"))
    }),

    // table-format: delete-vector consolidation (q153) — four predicate
    // deletes accrete four positional delete files (with overlapping
    // positions); CALL rewrite_position_deletes rewrites the overlay into
    // ONE deduped (file,pos)-sorted delete set, data files untouched, and
    // the SQL read (per-file roaring-bitmap masks) returns the same rows.
    // The in-query assertions pin the mechanism: exactly one positional
    // entry afterwards, same data files, mask rows == distinct deletions.
    "q153_delete_vectors" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = stagingWarehouse(s, "dvr", dir)
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
    }),

    // ext: grouped top-k as a bounded-state aggregate (q154) — top-5
    // exemplar docs per (source, lang) by length. ObjectHashAggregate
    // partial-aggregates the k-bounded buffer map-side, so the shuffle
    // carries ≤ k rows per group per input partition instead of every
    // row — the window-rank formulation (the oracle) shuffles the corpus.
    "q154_grouped_topk" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ext.TopK.topKPerGroup(docs, Seq("source", "lang"),
          scoreCol = "n_chars", idCol = "doc_id", k = 5)
        .orderBy(col("source"), col("lang"), col("rank"))
    }),

    // ext: deterministic HyperLogLog (q155) — per-event-type distinct
    // users from TWO register sketches built on disjoint halves and
    // merged by element-wise max, proving the persist-per-batch /
    // fold-across-batches shape; integer-only estimation replays on any
    // engine (registers from md5 bits, harmonic sum scaled 2^44,
    // fixed-point alpha, table-driven linear counting).
    "q155_hll_distinct" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val g = Seq("event_type")
      val r1 = graft.ext.Sketches.hllRegisters(
        ev.filter(col("event_id") % 2 === 0), g, "user_id")
      val r2 = graft.ext.Sketches.hllRegisters(
        ev.filter(col("event_id") % 2 === 1), g, "user_id")
      val merged = r1.unionByName(r2)
        .groupBy(col("event_type"), col("bucket"))
        .agg(max(col("reg")).as("reg"))
      val est = graft.ext.Sketches.hllEstimate(merged, g)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, Seq("event_type"))
        .withColumn("within_20pct",
          abs(col("approx_distinct") - col("exact_distinct")) * 5
            <= col("exact_distinct"))
        .orderBy(col("event_type"))
    }),

    // sources: ORC interchange (q156) — full lineitem out through the
    // ORC writer and back through the vectorized ORC reader, then a
    // decimal-exact aggregate that any roundtrip corruption (timestamp
    // epoch shift, double bits, null masks) would flip. Spark-native
    // columnar format #2 beside parquet; zstd to exercise codec plumbing.
    "q156_orc_roundtrip" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val out = formatStagingDir("orc", dir)
      li.write.mode("overwrite").option("compression", "zstd").orc(out)
      s.read.orc(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dsumd(col("l_quantity")).as("sum_qty"),
          dsumd(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("sum_disc_price"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          max(col("l_shipdate")).as("max_shipdate"))
        .orderBy(col("l_returnflag"))
    }),

    // sources: CSV ingest with corrupt-row quarantine (q157) — the
    // crawl-intake shape: typed schema over untrusted delimited text,
    // PERMISSIVE parse, rows that fail typing land in a quarantine
    // bucket (audited, never dropped silently) while clean rows flow
    // on. Corruption is synthesized deterministically (every orderkey
    // divisible by 997 gets an unparseable numeric) so the oracle
    // replays the split exactly.
    "q157_csv_quarantine" -> ((s, dir) => {
      val ord = Tables.load(s, dir, "orders")
      val out = formatStagingDir("csv", dir)
      val cents =
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
      val centsField =
        when(col("o_orderkey") % 997 === 0, concat(lit("x"), cents))
          .otherwise(cents.cast("string"))
      ord.select(concat_ws(",", col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), centsField, col("o_orderpriority"))
          .as("value"))
        .write.mode("overwrite").text(out)
      val back = s.read
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING," +
          " cents BIGINT, o_orderpriority STRING, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
      back.groupBy(
          when(col("_corrupt").isNull, col("o_orderstatus"))
            .otherwise(lit("QUARANTINED")).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("_corrupt").isNull, col("cents"))
            .otherwise(lit(0L))).as("sum_cents"))
        .orderBy(col("bucket"))
    }),

    // Streaming LEFT OUTER interval join (q158): q84's enrichment shape
    // when the right side is sparse and unmatched lefts must still be
    // emitted (nulls) instead of silently dropped — the fact-stream /
    // slow-dimension-stream case. Outer emission is watermark-driven:
    // after the data slices, sentinel rows (user −1, +10/+20 days) on
    // BOTH feeds push the global watermark past every real row's match
    // horizon and the following batch flushes the unmatched tail. The
    // sentinels themselves can never be flushed (nothing outruns them)
    // and are filtered from the sink.
    "q158_stream_outer_join" -> ((s, dir) => {
      val store = tmpStore(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val left = ev.filter(col("event_id") % 10 === 0)
      val right = ev.filter(col("event_id") % 30 === 5) // sparse: misses
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      def sentinel(plusDays: Int) = {
        import org.apache.spark.sql.Row
        s.createDataFrame(
          java.util.List.of(Row(-1L,
            java.sql.Timestamp.from(maxTs.toInstant
              .plus(java.time.Duration.ofDays(plusDays))),
            -1L, "__wm", 0.0)),
          left.schema)
      }
      val lr = new FileReplay(s, left.schema)
      val rr = new FileReplay(s, right.schema)
      val joined = graft.streaming.CdcStream.intervalJoin(
        lr.source, rr.source, "user_id", "ts", "1 HOUR", "48 hours",
        joinType = "leftOuter")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      withConf(s, "spark.sql.shuffle.partitions" -> "4", noDataBatchesOff) {
        val q = joined.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b0: DataFrame, _: Long) =>
            withBatch(b0) { b =>
              val out = b.filter(col("user_id") >= 0)
                .select(col("event_id"), col("user_id"),
                  col("r_event_type"), col("r_value"))
              if (!out.isEmpty) {
                if (!store.exists("enriched"))
                  store.commit("enriched", out, "create")
                else store.append("enriched", out)
              }
            }
          }
          .start()
        try {
          val ls = timeSlices(left, "ts", 2)
          val rs = timeSlices(right, "ts", 2)
          // both sides of a slice land together and process as ONE batch
          (0 until 2).foreach { i =>
            FileReplay.landTogether(Seq(rr.stage(rs(i)), lr.stage(ls(i))))
            q.processAllAvailable()
          }
          // watermark push + one more batch to flush unmatched lefts
          FileReplay.landTogether(
            Seq(rr.stage(sentinel(10)), lr.stage(sentinel(10))))
          q.processAllAvailable()
          FileReplay.landTogether(
            Seq(rr.stage(sentinel(20)), lr.stage(sentinel(20))))
          q.processAllAvailable()
        } finally q.stop()
      }
      store.read("enriched").orderBy(col("event_id"), col("r_event_type"))
    }),

    // Semi-structured VARIANT column (q159) — Spark 4's native variant
    // type end-to-end through the table layer: nested JSON (object +
    // array + scalars) parsed once at ingest into the binary variant
    // encoding, committed to a versioned table (footer stats skip the
    // nested group), read back and path-extracted with variant_get —
    // no per-query JSON re-parsing, the 100 TB answer to schemaless
    // event payloads. Missing paths yield NULL, counted to pin the
    // semantics.
    "q159_variant_column" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val js = to_json(struct(
        struct(col("user_id").as("id"), (col("user_id") % 5).as("tier"))
          .as("user"),
        array(col("event_type"),
          concat(lit("t"), (col("event_id") % 7).cast("string"))).as("tags"),
        (col("event_id") % 1000).as("mils")))
      val (wh, _) = stagingWarehouse(s, "varnt", dir)
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
    }),

    // MERGE WITH SCHEMA EVOLUTION (q160) — the enrichment-backfill
    // shape: a scoring job merges a quality column the target never had;
    // the column appends to the schema in the SAME commit, updated rows
    // carry scores, untouched rows (and untouched carried FILES — the
    // file-level CoW keeps pruning) read NULL.
    "q160_merge_schema_evolution" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val (wh, _) = stagingWarehouse(s, "mse", dir)
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
    }),

    // Time-series gap-fill + LOCF (q161) — densify each user's hourly
    // series onto its own [first, last] grid (per-key sequence/explode,
    // no global calendar cross join) and carry the last observed sum
    // into empty hours; integer value proxy keeps the fill replayable.
    "q161_gapfill_locf" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") % 50 === 0)
      graft.operators.GapFill
        .locf(ev, "user_id", "ts", "hour", col("event_id") % 1000)
        .orderBy(col("user_id"), col("bucket"))
    }),

    // Row lineage through CoW MERGE (q162) — Iceberg v3 `_row_id` /
    // `_last_updated_sequence_number`: updated rows keep their id and
    // bump the sequence, untouched rows (and carried files) change
    // neither, inserts draw fresh unique ids above the table max —
    // allocated METADATA-ONLY from folded footer stats, no scan. The
    // audit question this answers at 100 TB: "which physical rows did
    // commit N touch" without diffing snapshots.
    "q162_row_lineage" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val (wh, _) = stagingWarehouse(s, "lin", dir)
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
    }),

    // PIVOT (q163) — source × lang token matrix via the native pivot
    // operator (one hash agg on (source, lang) then a map-side
    // transpose; the explicit value list keeps the plan static — no
    // distinct-values pre-query).
    "q163_pivot" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum(col("n_chars")))
        .orderBy(col("source"))
    }),

    // GROUPING SETS (q164) — the native multi-granularity aggregate
    // (detail, per-flag, grand total in ONE pass over the scan) with
    // per-column GROUPING flags disambiguating the null group keys.
    "q164_grouping_sets" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsumd(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"))
        .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"),
          col("l_linestatus"))
    }),

    // Personalized PageRank (q165) — teleport restricted to a trusted
    // seed set (every 100th customer): the quality-prior variant where
    // authority flows FROM seeds and unreachable spam starves to zero.
    // Same int64 fixed-point grid as q151.
    "q165_personalized_pagerank" -> ((s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(
          concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.unionByName(pairs.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      val seeds = ord.filter(col("o_custkey") % 100 === 0)
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("node"))
      graft.ext.LinkAnalysis.personalizedPageRank(edges, "src", "dst", "w",
          seeds, iterations = 3)
        .orderBy(col("node"))
    }),

    // Label-propagation communities (q166) — synchronous LPA with the
    // (weight DESC, label ASC) deterministic tie-break over the same
    // bidirectional trade graph; a pure function of the graph, so the
    // community assignment replays bit-for-bit on any engine.
    "q166_label_propagation" -> ((s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(
          concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.unionByName(pairs.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      graft.ext.LinkAnalysis.labelPropagation(edges, "src", "dst", "w",
          iterations = 3)
        .orderBy(col("node"))
    }),

    // UNPIVOT (q167) — melt the q163 matrix back to long form with the
    // native unpivot operator; null cells drop so the roundtrip equals
    // the plain GROUP BY.
    "q167_unpivot" -> ((s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val piv = Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(sum(col("n_chars")))
      piv.unpivot(Array(col("source")), langs.map(col).toArray,
          "lang", "sum_chars")
        .filter(col("sum_chars").isNotNull)
        .orderBy(col("source"), col("lang"))
    }),

    // Incremental JOIN materialized view (q168) — revenue-per-priority
    // over lineitem ⋈ orders, maintained by the classic delta
    // decomposition ΔL⋈R_new ∪ L_old⋈ΔR after BOTH sides grow (the
    // ΔL⋈ΔR corner rides in the first leg). Both deltas interleave all
    // join keys, so every leg is non-trivial; the refresh scans only
    // appended files plus one matched side, never re-joins the history.
    "q168_join_matview" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("orderkey"), col("l_linenumber"),
          col("l_quantity"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      val store = tmpStore(s)
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
    }),

    // Stream-static enrichment join (q169) — the canonical lookup
    // pattern: a streaming fact feed joined per micro-batch against a
    // DIMENSION SNAPSHOT served through the table layer (broadcast-grade
    // static side, re-planned each batch, no stream state at all —
    // contrast q84/q158 where both sides keep watermarked state).
    "q169_stream_static_join" -> ((s, dir) => {
      val store = tmpStore(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"))
        .filter(col("event_id") % 5 === 0)
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      store.commit("dim", dim, "create")
      val er = new FileReplay(s, ev.schema)
      val joined = er.source.join(store.read("dim"), Seq("user_id"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      val q = joined.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b0: DataFrame, _: Long) =>
          withBatch(b0) { b =>
            if (!b.isEmpty) {
              val out = b.select(col("event_id"), col("segment"))
              if (!store.exists("enriched")) store.commit("enriched", out, "create")
              else store.append("enriched", out)
            }
          }
        }
        .start()
      try {
        val slices = timeSlices(ev, "ts", 3)
        slices.foreach(er.feed(q, _))
      } finally q.stop()
      store.read("enriched").groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
        .orderBy(col("segment"))
    }),

    // CUBE (q170) — all 2^n grouping combinations in one pass, the last
    // member of the multi-dimensional family (ROLLUP q11/q51, GROUPING
    // SETS q164, PIVOT q163, UNPIVOT q167). Spark plans one Expand +
    // one hash aggregate — no per-combination rescans.
    "q170_cube" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsumd(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"))
        .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"),
          col("l_linestatus"))
    }),

    // Top-k pushdown (q171) — ORDER BY ... LIMIT prunes the FILE LIST
    // from manifest min/max + null counts before any task runs: the scan
    // plans only files some valid top-k can need (strict-dominance
    // witnesses on the leading key), Spark's TakeOrderedAndProject
    // finishes above. `files_pruned` asserts the skip really fired; the
    // tie-break column rides along to keep the answer deterministic.
    "q171_topk_pushdown" -> ((s, dir) => {
      val (wh, cat) = stagingWarehouse(s, "q171", dir)
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
    }),

    // Interval-overlap join (q172) — interval×interval ranges, the other
    // nested-loop shape [[graft.operators.RangeJoin]] rescues: price
    // intervals [cents, cents+25000] from lineitem against overlapping
    // $500-stride/$1000-wide bands; each qualifying pair produced exactly
    // once via the intersection-left-edge bucket rule, exact overlap
    // residual inside the hash equi-join.
    "q172_interval_overlap_join" -> ((s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
        .select((col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("long").as("llo"), col("l_quantity"))
        .withColumn("lhi", col("llo") + 25000L)
      val bands = s.range(0, 210).select(
        col("id").as("band_id"),
        (col("id") * 50000L).as("lo"),
        (col("id") * 50000L + 99999L).as("hi"))
      graft.operators.RangeJoin
        .intervalOverlap(li, "llo", "lhi", bands, "lo", "hi",
          bucketWidth = 100000L)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("total_qty"))
        .orderBy(col("band_id"))
    }),

    // Trained quality classifier (q173) — a full-batch integer perceptron
    // on hashed-unigram counts learns en-vs-other IN-QUERY (3 rounds,
    // w += Σ_misclassified y·x, exact int64 over an unordered set, so
    // training replays bit-for-bit on any engine). Scoring is one
    // projection against the literal trained weights; the confusion
    // matrix with per-cell margin sums is sensitive to every weight.
    "q173_trained_classifier" -> ((s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val isEn = coalesce(col("lang") === "en", lit(false))
      // tokenize+md5+bucket ONCE; 3 training rounds and the final scoring
      // pass all read the checkpointed integer arrays (previously 7 full
      // tokenize+hash passes over the corpus text)
      val feat = graft.ext.Perceptron.featurize(docs, "text", isEn)
        .localCheckpoint()
      val w = graft.ext.Perceptron.trainOnFeatures(feat, iterations = 3)
      val score = graft.ext.Perceptron.marginOnFeatures(w)
      feat.select((col("__y") === 1L).as("is_en"), score.as("__m"),
          (score > 0L).as("predicted"))
        .groupBy(col("is_en"), col("predicted"))
        .agg(count(lit(1)).as("n"), sum(col("__m")).as("sum_margin"))
        .orderBy(col("is_en"), col("predicted"))
    }),

    // Snapshot-isolated multi-table reads (q174) — `consistentVersions`
    // pins a cut across tables that contains ALL or NONE of every
    // transaction's ops (pointer double-read around a recovery drive —
    // the answer to the read-skew window per-table pointer swaps leave).
    // A committed fact+dim txn is fully visible at the cut; an abandoned
    // staged txn contributes nothing; both tables read via VERSION AS OF
    // the pinned cut.
    "q174_consistent_cut" -> ((s, dir) => {
      val (wh, _) = stagingWarehouse(s, "q174", dir)
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
    }),

    // Column mapping (q175) — ALTER TABLE ... RENAME COLUMN without
    // rewriting a byte: the field's physical parquet name is pinned at
    // first write, the rename is one metadata commit, and files written
    // BEFORE and AFTER it share the physical name. The anchor renames
    // mid-history, appends under the new logical name, and aggregates
    // through the mapping; `mapped` asserts no data file was renamed.
    "q175_column_mapping" -> ((s, dir) => {
      val (wh, cat) = stagingWarehouse(s, "q175", dir)
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
    }),

    // Upsampled mixture (q176) — the other half of data mixing: domains
    // whose token target exceeds their mass REPEAT across tagged epochs
    // (floor(target/mass) full passes + the deterministic md5-prefix
    // fractional epoch), while oversized domains downsample by the same
    // exclusive-offset rule. Pure integer arithmetic; every copy
    // decision replays in the oracle.
    "q176_upsample_mixture" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ext.Mixing.upsampleToBudget(docs, "doc_id", "source", "n_chars",
          budgetTokens = 5000000L, parts = mixingParts)
        .groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("source"), col("epoch"))
    }),

    // Streaming FULL OUTER interval join (q177) — both sides emit their
    // unmatched rows once the watermark proves no match can still arrive
    // (q158's left-outer generalized: state is watermark-bounded on BOTH
    // sides, and the batch FULL JOIN is the oracle). Sentinel feeds push
    // the watermark past the data so the bounded replay flushes both
    // unmatched tails.
    "q177_stream_full_outer_join" -> ((s, dir) => {
      val store = tmpStore(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val left = ev.filter(col("event_id") % 10 === 0)
      val right = ev.filter(col("event_id") % 30 === 5)
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      def sentinel(plusDays: Int) = {
        import org.apache.spark.sql.Row
        s.createDataFrame(
          java.util.List.of(Row(-1L,
            java.sql.Timestamp.from(maxTs.toInstant
              .plus(java.time.Duration.ofDays(plusDays))),
            -1L, "__wm", 0.0)),
          left.schema)
      }
      val lr = new FileReplay(s, left.schema)
      val rr = new FileReplay(s, right.schema)
      val joined = graft.streaming.CdcStream.intervalJoin(
        lr.source, rr.source, "user_id", "ts", "1 HOUR", "48 hours",
        joinType = "fullOuter")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      withConf(s, "spark.sql.shuffle.partitions" -> "4", noDataBatchesOff) {
        val q = joined.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b0: DataFrame, _: Long) =>
            withBatch(b0) { b =>
              // sentinels carry key -1 on whichever side they fed
              val out = b
                .filter(coalesce(col("user_id"), col("r_user_id")) >= 0)
                .select(col("event_id").as("l_event_id"),
                  col("r_event_id"),
                  coalesce(col("user_id"), col("r_user_id")).as("user_id"),
                  col("r_event_type"))
              if (!out.isEmpty) {
                if (!store.exists("joined"))
                  store.commit("joined", out, "create")
                else store.append("joined", out)
              }
            }
          }
          .start()
        try {
          val ls = timeSlices(left, "ts", 2)
          val rs = timeSlices(right, "ts", 2)
          // both sides of a slice land together and process as ONE batch
          (0 until 2).foreach { i =>
            FileReplay.landTogether(Seq(rr.stage(rs(i)), lr.stage(ls(i))))
            q.processAllAvailable()
          }
          FileReplay.landTogether(
            Seq(rr.stage(sentinel(10)), lr.stage(sentinel(10))))
          q.processAllAvailable()
          FileReplay.landTogether(
            Seq(rr.stage(sentinel(20)), lr.stage(sentinel(20))))
          q.processAllAvailable()
        } finally q.stop()
      }
      store.read("joined")
        .orderBy(col("user_id"), col("l_event_id"), col("r_event_id"))
    }),

    // Incremental ANALYZE (q178) — O(delta) stats refresh: after an
    // append, only the NEW files are read and merged into the stored
    // statistics. Null/row counts add exactly; NDV merges EXACTLY (the
    // bottom-k of two KMV register sets is the bottom-k of the union, so
    // the estimate is bit-equal to a full recompute — the oracle just
    // computes the full-table KMV); maxFreq merges to the safe upper
    // bound base+delta, which the oracle replays by summing the two
    // parts' maxima.
    "q178_incremental_analyze" -> ((s, dir) => {
      import s.implicits._
      val store = tmpStore(s)
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
    }),

    // Near-dup retention policy (q179) — collapse each near-dup cluster
    // to its BEST member (longest doc, ties by id) instead of q65's
    // min-id convention: the "keep the most complete copy" rule real
    // curation pipelines apply. The argmax window partitions by
    // component (cluster-sized, never corpus-sized); untouched documents
    // pass through via one anti-join.
    "q179_neardup_keep_best" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val comp = Dedup.nearDupComponents(docs, "doc_id", "text",
        n = 3, threshold = 0.8)
      val w = Window.partitionBy(col("component"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val winners = comp
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).select(col("doc_id"))
      val kept = docs
        .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .unionByName(docs.join(winners, Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("n_chars")))
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars").cast("long")).as("kept_chars"))
        .orderBy(col("source"))
    }),

    // Recursive CTE (q180) — Spark 4's WITH RECURSIVE (UnionLoop):
    // iterative transitive descent of a synthesized reporting hierarchy
    // (mgr = c_custkey div 10; roots are custkeys below 10), carrying
    // each node's root and depth down the chain. Each recursion step is
    // ONE distributed equi-join of the frontier against the base
    // relation — the fixpoint lives in the plan (UnionLoop), not in a
    // driver loop, and terminates in O(log10 |customer|) rounds because
    // the synthetic hierarchy's depth is the custkey's digit count.
    // DuckDB replays the identical fixpoint (integer division `//`).
    "q180_recursive_cte" -> ((s, dir) => {
      val view = s"q180_c_${System.nanoTime()}"
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .createOrReplaceTempView(view)
      s.sql(
        s"""WITH RECURSIVE chain (id, root, depth, bal) AS (
           |  SELECT c_custkey, c_custkey, 0,
           |         CAST(c_acctbal AS DECIMAL(18,2))
           |  FROM $view WHERE c_custkey < 10
           |  UNION ALL
           |  SELECT e.c_custkey, ch.root, ch.depth + 1,
           |         CAST(e.c_acctbal AS DECIMAL(18,2))
           |  FROM $view e JOIN chain ch ON e.c_custkey DIV 10 = ch.id
           |  WHERE e.c_custkey >= 10
           |)
           |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           |  CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
           |  CAST(SUM(bal) AS DOUBLE) AS total_bal
           |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
    }),

    // Type widening (q181) — ALTER COLUMN TYPE without data rewrite
    // (Iceberg type promotion / Delta type widening): files written
    // before the change keep int32/decimal(9,2) footers, files after
    // carry int64/decimal(18,2), and ONE scan serves both (Spark 4's
    // parquet readers widen in the vectorized path). Values past the
    // old type's range land only post-widen; the `metadata_only` flag
    // asserts the pre-widen files were never rewritten. Stats-based
    // file skipping stays live because every allowed promotion keeps
    // its stat kind (TypeWideningSpec gates the algebra + guards).
    "q181_type_widening" -> ((s, dir) => {
      val (wh, cat) = stagingWarehouse(s, "q181", dir)
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
    }),

    // Column DEFAULT values (q182) — `ADD COLUMN … DEFAULT` is
    // METADATA-ONLY (Delta/Iceberg-v3 default-value semantics): files
    // written before the column existed are never rewritten; scans fill
    // the pinned EXISTS_DEFAULT ('legacy') for their rows, while INSERTs
    // that omit the column materialize CURRENT_DEFAULT — moved to
    // 'online' by SET DEFAULT before the insert, proving the two halves
    // are independent. The `metadata_only` flag asserts the pre-column
    // files still physically lack the column. DefaultColumnsSpec gates
    // the full lifecycle (DROP DEFAULT, filters, typed literals).
    "q182_default_columns" -> ((s, dir) => {
      val (wh, cat) = stagingWarehouse(s, "q182", dir)
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
    }),

    // Atomic REPLACE TABLE AS SELECT (q183) — StagingTableCatalog RTAS
    // (Iceberg's atomic replace): the CTAS and its replacement each land
    // as ONE manifest swap, the replace resets schema/spec/identity, and
    // prior versions stay time-travelable — the result reads BOTH epochs
    // (the replaced aggregate + a VERSION AS OF 1 rollup of the original
    // rows) to prove the swap kept history. ReplaceTableSpec gates the
    // lifecycle (abort-on-failure, partitioned RTAS, mapping reset).
    "q183_replace_table" -> ((s, dir) => {
      val (wh, cat) = stagingWarehouse(s, "q183", dir)
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
    }),

    // transformWithState (q184) — Spark 4's State API v2 over the RocksDB
    // state store: per user a ValueState (running count + exact cents)
    // AND a MapState (per-event-type counts) survive micro-batch
    // boundaries; each batch emits an updated snapshot per key seen
    // (Update mode). The deterministic 1/7 event slice replays in three
    // event-time batches; the final snapshot per user (max-n — n is
    // strictly monotone) must equal the batch aggregate, per user and
    // per top event type. StatefulOpsSpec gates the operator.
    "q184_transform_with_state" -> ((s, dir) => {
      import s.implicits._
      val store = tmpStore(s)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 7 === 0)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val profiles = graft.streaming.StatefulOps.runningProfiles(
        replay.source.as[graft.streaming.Event])
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      withConf(s, rocksDbStateStore, "spark.sql.shuffle.partitions" -> "8") {
        val q = profiles.toDF().writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b0: DataFrame, _: Long) =>
            withBatch(b0) { b =>
              if (!b.isEmpty) {
                if (!store.exists("prof")) store.commit("prof", b, "create")
                else store.append("prof", b)
              }
            }
          }
          .start()
        try timeSlices(ev, "ts", 3).foreach(replay.feed(q, _))
        finally q.stop()
      }
      store.read("prof")
        .groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("cents"), col("top_type"),
          col("top_n"))).as("s"))
        .select(col("user_id"), col("s.n").as("n"),
          (col("s.cents").cast(DecimalType(18, 0)) / 100)
            .cast("double").as("total_value"),
          col("s.top_type").as("top_type"), col("s.top_n").as("top_n"))
        .orderBy(col("user_id"))
    }),

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
    "q185_identity_columns" -> ((s, dir) => {
      val (_, cat) = stagingWarehouse(s, "q185", dir)
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
    }),

    // SQL CHECK constraints (q186) — the standard `ALTER TABLE … ADD /
    // DROP CONSTRAINT` face (SUPPORT_TABLE_CONSTRAINT) over the store's
    // Delta-style checks: ADD validates every existing row, a violating
    // INSERT is refused INSIDE the write job (no pre-scan), DROP is
    // metadata-only and re-opens the gate. The result folds the table
    // after a refused insert, a passing insert, and a post-drop insert
    // of the previously-refused row. SqlConstraintSpec gates the
    // lifecycle (inline DDL checks, REPLACE TABLE, DESCRIBE surface).
    "q186_sql_constraints" -> ((s, dir) => {
      val (wh, cat) = stagingWarehouse(s, "q186", dir)
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
    }),

    // Generated columns (q187) — `GENERATED ALWAYS AS (expr)` computed on
    // write (SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS + the fill
    // rule) and doubling as the PARTITION column: the classic "derive
    // the date from the timestamp" layout users otherwise materialize by
    // hand, here with explicit writes refused and partition-exact file
    // pruning on the derived day (the boolean asserts the week's scan
    // touched a strict subset of files). GeneratedColumnsSpec gates the
    // lifecycle. At 100 TB this is the layout that turns a time-range
    // query into a partition listing.
    "q187_generated_columns" -> ((s, dir) => {
      val (wh, cat) = stagingWarehouse(s, "q187", dir)
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
    }),

    // Event-time timers (q188) — State API v2 timers over the RocksDB
    // store: each user's single timer re-arms at (latest event + 30 min);
    // when the WATERMARK passes it, handleExpiredTimer emits the user's
    // totals — inactivity detection driven by the stream's own clock.
    // The deterministic 1/9 event slice replays in three event-time
    // batches plus a far-future sentinel that flushes every live timer;
    // intermediate fires depend on watermark progress, so the anchor
    // folds to the FINAL max-(n, expire_ts) snapshot per user, which
    // must equal the batch (count, max ts + 30 min) — microsecond-exact.
    "q188_stream_timers" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 9 === 0)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val expiries = graft.streaming.StatefulOps.inactivityExpiry(
        replay.source.as[graft.streaming.Event], gapMinutes = 30,
        watermarkDelay = "0 seconds")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      val sinkName = "q188_sink"
      withConf(s, rocksDbStateStore, "spark.sql.shuffle.partitions" -> "8",
          noDataBatchesOff) {
        val q = expiries.toDF().writeStream.format("memory")
          .queryName(sinkName)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .start()
        try {
          timeSlices(ev, "ts", 3).foreach(replay.feed(q, _))
          // double far-future sentinel (RocksDB opens+commits one store
          // per partition per TRIGGER — no-data flush batches are the
          // expensive path here): the first advances the watermark past
          // every timer, the second's data batch fires them
          val far = ev.agg(max(col("ts"))).head().getTimestamp(0)
          Seq(36000000L, 72000000L).foreach { off =>
            replay.feed(q, Seq((-1L,
              new java.sql.Timestamp(far.getTime + off), "x", 0.0))
              .toDF("user_id", "ts", "event_type", "value"))
          }
        } finally q.stop()
      }
      s.table(sinkName)
        .filter(col("user_id") >= 0)
        .groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("expire_ts"))).as("f"))
        .select(col("user_id"), col("f.n").as("n"),
          unix_micros(col("f.expire_ts")).as("expire_us"))
        .orderBy(col("user_id"))
    }),

    // Leakage-safe train/eval split (q189) — near-duplicate documents
    // never straddle the split: q65's near-dup components move as ONE
    // unit keyed by their min-id representative, singletons are their
    // own unit, and the side is a deterministic md5 bucket of the unit
    // id (reproducible, partitioning-independent, no stored assignment
    // table). The `no_leakage` flag re-derives every near-dup pair and
    // counts the pairs whose ends disagree — must be zero. The failure
    // this prevents is the classic one: a training document's near-copy
    // in the eval set inflating every metric it touches. SplitsSpec
    // gates the unit semantics and the eval-share calibration.
    "q189_leakage_safe_split" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // one shared candidate/verify pass for the split AND its audit
      // (pairs and components previously each re-ran the whole Jaccard
      // machinery); the split table (one narrow row per doc) feeds two
      // consumers — checkpoint it
      val (pairs, comp) = Dedup.jaccardPairsAndComponents(
        docs, "doc_id", "text", n = 3, threshold = 0.8)
      val split = graft.ext.Splits.leakageSafeSplitFromComponents(
        docs, "doc_id", comp, evalOf256 = 51).localCheckpoint()
      val straddling = pairs
        .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")),
          Seq("id_a"))
        .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")),
          Seq("id_b"))
        .filter(col("sa") =!= col("sb")).count()
      docs.join(split, Seq("doc_id"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("total_chars"),
          countDistinct(col("unit")).as("n_units"))
        .withColumn("no_leakage", lit(straddling == 0L))
        .orderBy(col("split"))
    }),

    // CLUSTER BY (q190) — liquid-clustering shape: the DDL's cluster
    // keys become the store's write order, every SQL write range-
    // clusters + sorts (RequiresDistributionAndOrdering), files carry
    // narrow DISJOINT min/max ranges on the keys, and a key-range scan
    // prunes files from stats alone — no directory partitioning, none
    // of its small-file explosion, re-declarable with one metadata
    // commit (`ALTER TABLE … CLUSTER BY`). The booleans assert the
    // disjoint layout and the strict-subset file hit. ClusterBySpec
    // gates the DDL lifecycle.
    "q190_cluster_by" -> ((s, dir) => {
      val (wh, cat) = stagingWarehouse(s, "q190", dir)
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
    })
  )

  /** Mixture weights for q103: source `src<i>` gets `(i % 4) + 1` parts
    * of the 10 000-token budget (Σparts = 50 → targets 200/400/600/800). */
  private val mixingParts: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1L)).toMap

  /** SQL texts valid in BOTH Spark SQL and DuckDB, run verbatim on each
    * engine — the two-engine differential exactly mirrors the reference's
    * Spark-vs-Athena consistency check (SURVEY.md §5). */
  private object SharedSql {
    /** Tumbling-window counts over events — the batch q47 oracle, and
      * (unchanged) the oracle for the streaming replay q68: Append-mode
      * watermarked windows, fully flushed, must equal the batch group-by. */
    val windowedCounts: String =
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin

    /** q88 shape: 8 half-year count slices cross-joined (identical SQL on
      * Spark and DuckDB — year/month/CAST behave the same). */
    val eightSubqueries: String = {
      val slices = for {
        (yr, half) <- Seq((1995, 1), (1995, 2), (1996, 1), (1996, 2),
          (1997, 1), (1997, 2), (1998, 1), (1998, 2))
      } yield {
        val (mLo, mHi) = if (half == 1) (1, 6) else (7, 12)
        s"""  (SELECT CAST(count(*) AS BIGINT) AS n_${yr}_h$half
           |  FROM lineitem, orders, customer
           |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           |    AND year(o_orderdate) = $yr
           |    AND month(o_orderdate) BETWEEN $mLo AND $mHi
           |    AND ((c_mktsegment = 'BUILDING' AND l_quantity <= 25)
           |      OR (c_mktsegment = 'MACHINERY' AND l_quantity <= 30)
           |      OR (c_mktsegment = 'AUTOMOBILE' AND l_quantity <= 35))
           |    AND l_returnflag = 'N') s${yr}h$half""".stripMargin
      }
      s"SELECT *\nFROM\n${slices.mkString(",\n")}"
    }

    /** NOT IN subquery — plans as a null-aware anti join, a distinct
      * operator from NOT EXISTS (q05). Identical SQL on both engines. */
    val notInSubquery: String =
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey
        |LIMIT 100""".stripMargin

    /** Value-RANGE window frame (interval-bounded moving sum) — distinct
      * from the ROWS frame of q09. Exact-decimal sums inside, DOUBLE out. */
    val rangeFrameMovingSum: String =
      """WITH daily AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        |  FROM orders WHERE o_custkey % 50 = 0
        |  GROUP BY o_custkey, CAST(o_orderdate AS DATE))
        |SELECT o_custkey, d,
        |  CAST(SUM(rev) OVER (PARTITION BY o_custkey ORDER BY d
        |    RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_30d
        |FROM daily ORDER BY o_custkey, d""".stripMargin

    val corrScalarSubquery: String =
      """WITH ctr AS (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total_spent
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_custkey, c_nationkey)
        |SELECT ctr1.c_custkey, CAST(ctr1.total_spent AS DOUBLE) AS total_spent
        |FROM ctr ctr1
        |WHERE CAST(ctr1.total_spent AS DOUBLE) > (
        |  SELECT 1.2 * CAST(SUM(CAST(ctr2.total_spent AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM ctr ctr2 WHERE ctr2.c_nationkey = ctr1.c_nationkey)
        |ORDER BY ctr1.c_custkey""".stripMargin

    val scalarSubqueries: String =
      """SELECT s1.cnt AS n_q1_10, s2.cnt AS n_q11_20, s3.cnt AS n_q21_30, s4.cnt AS n_q31_40
        |FROM (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) s1,
        |     (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) s2,
        |     (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) s3,
        |     (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 31 AND 40) s4""".stripMargin

    val correlatedExists: String =
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        |              AND o.o_orderdate < TIMESTAMP '1998-01-01')
        |  AND EXISTS (SELECT 1 FROM orders o2 JOIN lineitem l ON l.l_orderkey = o2.o_orderkey
        |              WHERE o2.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
  }

  // ------------------------------------------------------------ oracle SQL

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** DuckDB replica of the hyperplane-LSH near-dup pipeline (candidates +
    * exact cosine verify), shared by the q35 and q42 oracles. The seeded
    * planes are embedded as literals. */
  private lazy val embeddingLshOracleBody: String = {
    val branches = Dedup.hyperplanes().zipWithIndex.map { case (tbl, ti) =>
      val bucket = tbl.zipWithIndex.map { case (p, pi) =>
        s"(CASE WHEN list_inner_product(e, ${p.mkString("[", ", ", "]")}) >= 0 THEN ${1L << pi} ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT vec_id, $ti AS t, $bucket AS bk FROM v"
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |b AS (
       |$branches),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM b x JOIN b y ON x.t = y.t AND x.bk = y.bk AND x.vec_id < y.vec_id)
       |SELECT id_a, id_b
       |FROM cand JOIN v p ON p.vec_id = id_a JOIN v q ON q.vec_id = id_b
       |WHERE list_cosine_similarity(p.e, q.e) >= 0.45""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q03_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q04_semijoin_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q05_customers_without_orders" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q20_scd2_history" ->
      """SELECT user_id, event_id, event_type, value,
        | ts AS start_datetime,
        | coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
        |          TIMESTAMP '2250-01-01') AS end_datetime,
        | (lead(ts) OVER (PARTITION BY user_id ORDER BY ts)) IS NULL AS is_current
        |FROM events
        |ORDER BY user_id, start_datetime""".stripMargin,

    // The streaming path must converge to the identical SCD2 chain.
    "q64_stream_cdc_scd2" ->
      """SELECT user_id, event_id, event_type, value,
        | ts AS start_datetime,
        | coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
        |          TIMESTAMP '2250-01-01') AS end_datetime,
        | (lead(ts) OVER (PARTITION BY user_id ORDER BY ts)) IS NULL AS is_current
        |FROM events
        |ORDER BY user_id, start_datetime""".stripMargin,

    "q21_merge_upsert" ->
      """WITH tgt AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |                 FROM events WHERE ts < TIMESTAMP '2024-01-20') WHERE rn = 1
        |), src AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |                 FROM events WHERE ts >= TIMESTAMP '2024-01-20') WHERE rn = 1
        |)
        |SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value FROM src WHERE event_type <> 'error'
        |  UNION ALL
        |  SELECT t.user_id, t.event_id, t.event_type, t.value FROM tgt t
        |  WHERE t.user_id NOT IN (SELECT user_id FROM src)
        |)
        |ORDER BY user_id""".stripMargin,

    "q22_time_travel" ->
      """SELECT
        | (SELECT count(*) FROM events WHERE ts < TIMESTAMP '2024-01-15') AS v1_n_rows,
        | count(*) AS v2_n_rows,
        | CAST(2 AS BIGINT) AS n_versions
        |FROM events""".stripMargin,

    "q44_sql_catalog" ->
      """SELECT
        | (SELECT count(*) FROM events WHERE ts < TIMESTAMP '2024-01-15') AS v1_n_rows,
        | count(*) AS v2_n_rows,
        | CAST(2 AS BIGINT) AS n_snapshots
        |FROM events""".stripMargin,

    "q23_compaction" ->
      """SELECT CAST(16 AS BIGINT) AS files_before, CAST(1 AS BIGINT) AS files_after,
        | count(*) AS n_rows
        |FROM events""".stripMargin,

    "q28_file_pruning" ->
      """SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(TRUE AS BOOLEAN) AS pruning_effective
        |FROM lineitem WHERE l_orderkey >= 100 AND l_orderkey <= 500""".stripMargin,

    "q50_multiway_cte_selfjoin" ->
      """WITH sales AS (
        |  SELECT year(o_orderdate) AS yr, n.n_name, c.c_custkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |  WHERE p.p_size <= 25 AND s.s_acctbal > 0
        |  GROUP BY 1, 2, 3)
        |SELECT a.n_name, CAST(count(*) AS BIGINT) AS n_custs,
        |  CAST(SUM(a.rev) AS DOUBLE) AS rev_1995, CAST(SUM(b.rev) AS DOUBLE) AS rev_2000
        |FROM sales a JOIN sales b ON a.c_custkey = b.c_custkey AND a.n_name = b.n_name
        |WHERE a.yr = 1995 AND b.yr = 2000
        |GROUP BY a.n_name ORDER BY a.n_name""".stripMargin,

    "q51_rollup_8col" ->
      """SELECT
        |  CAST(grouping(r_name)*128 + grouping(n_name)*64 + grouping(c_mktsegment)*32 +
        |       grouping(o_orderstatus)*16 + grouping(o_orderpriority)*8 + grouping(l_returnflag)*4 +
        |       grouping(l_linestatus)*2 + grouping(p_brand) AS BIGINT) AS gid,
        |  COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
        |  COALESCE(c_mktsegment, 'ALL') AS c_mktsegment,
        |  COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |  COALESCE(l_returnflag, 'ALL') AS l_returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
        |  COALESCE(p_brand, 'ALL') AS p_brand,
        |  count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l_quantity > 45
        |GROUP BY ROLLUP(r2.r_name, n2.n_name, c.c_mktsegment, o.o_orderstatus,
        |  o.o_orderpriority, l.l_returnflag, l.l_linestatus, p.p_brand)
        |ORDER BY gid, r_name, n_name, c_mktsegment, o_orderstatus,
        |  o_orderpriority, l_returnflag, l_linestatus, p_brand""".stripMargin,

    "q52_intersect_channels" ->
      """WITH ch AS (
        |  SELECT DISTINCT o_custkey, l_returnflag
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM (
        |  SELECT o_custkey FROM ch WHERE l_returnflag = 'R'
        |  INTERSECT SELECT o_custkey FROM ch WHERE l_returnflag = 'A'
        |  INTERSECT SELECT o_custkey FROM ch WHERE l_returnflag = 'N') t
        |JOIN customer ON c_custkey = o_custkey""".stripMargin,

    "q53_round_abs" ->
      """SELECT l_returnflag,
        |  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 0)) AS DOUBLE) AS rounded_rev,
        |  CAST(SUM(ABS(CAST(l_quantity AS DECIMAL(18,2)) - 25)) AS DOUBLE) AS abs_qty_dev
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q49_partitioned_sink" ->
      """SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | CAST(TRUE AS BOOLEAN) AS partition_exact
        |FROM events WHERE event_type = 'click'""".stripMargin,

    "q62_sql_partitioned" ->
      """SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | CAST(TRUE AS BOOLEAN) AS partition_exact
        |FROM events WHERE event_type = 'click'""".stripMargin,

    "q63_runtime_pruning" ->
      """SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(TRUE AS BOOLEAN) AS runtime_pruned
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey <= 300""".stripMargin,

    "q55_eight_subqueries" -> SharedSql.eightSubqueries,
    "q60_not_in_subquery" -> SharedSql.notInSubquery,
    "q61_range_frame" -> SharedSql.rangeFrameMovingSum,

    "q06_corr_scalar_subquery" -> SharedSql.corrScalarSubquery,
    "q07_scalar_subqueries" -> SharedSql.scalarSubqueries,
    "q29_correlated_exists" -> SharedSql.correlatedExists,

    "q43_union_distinct" ->
      """SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-06-01'
        |  UNION
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |) t ORDER BY o_custkey""".stripMargin,

    "q08_window_rank" ->
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey)
        |SELECT p_brand, p_partkey, CAST(revenue AS DOUBLE) AS revenue, rk FROM (
        |  SELECT p_brand, p_partkey, revenue,
        |    CAST(rank() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS BIGINT) AS rk
        |  FROM rev) t
        |WHERE rk <= 3
        |ORDER BY p_brand, rk, p_partkey""".stripMargin,

    "q09_window_cumulative" ->
      """WITH daily AS (
        |  SELECT l_returnflag, CAST(l_shipdate AS DATE) AS ship_day,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS day_rev
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, ship_day, CAST(day_rev AS DOUBLE) AS day_rev,
        |  CAST(CAST(SUM(day_rev) OVER (PARTITION BY l_returnflag ORDER BY ship_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,4)) AS DOUBLE) AS cume_rev
        |FROM daily
        |ORDER BY l_returnflag, ship_day""".stripMargin,

    "q10_window_avg_deviation" ->
      """WITH monthly AS (
        |  SELECT p_brand, CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT p_brand, ship_month, CAST(rev AS DOUBLE) AS rev FROM (
        |  SELECT p_brand, ship_month, rev,
        |    CAST(SUM(rev) OVER (PARTITION BY p_brand) AS DOUBLE)
        |      / COUNT(rev) OVER (PARTITION BY p_brand) AS brand_avg
        |  FROM monthly) t
        |WHERE CAST(rev AS DOUBLE) > 1.3 * brand_avg
        |ORDER BY p_brand, ship_month""".stripMargin,

    "q11_rollup_grouping" ->
      """SELECT
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS order_status,
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS order_priority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY order_status, order_priority""".stripMargin,

    "q12_count_distinct" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q13_stats_stddev" ->
      """SELECT l_returnflag, n_items,
        |  CAST(s1 AS DOUBLE) / n_items AS mean_qty,
        |  sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n_items)
        |       / (n_items - 1)) AS stddev_qty
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n_items,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
        |    SUM(CAST(l_quantity*l_quantity AS DECIMAL(18,2))) AS s2
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin,

    "q14_setops" ->
      """SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  INTERSECT
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |) t ORDER BY o_custkey""".stripMargin,

    "q15_case_buckets" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN d <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN d > 30 AND d <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN d > 60 AND d <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |  CAST(SUM(CASE WHEN d > 90 THEN 1 ELSE 0 END) AS BIGINT) AS d_over,
        |  COUNT(*) AS n_items
        |FROM (
        |  SELECT o_orderpriority,
        |    datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q16_full_outer_join" ->
      """WITH a AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev_a
        |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
        |r AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev_r
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT coalesce(a.ship_month, r.ship_month) AS ship_month,
        |  CAST(coalesce(rev_a, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS rev_a,
        |  CAST(coalesce(rev_r, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS rev_r
        |FROM a FULL OUTER JOIN r ON a.ship_month = r.ship_month
        |ORDER BY ship_month""".stripMargin,

    "q17_left_join_returns" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_orderkey) AS n_orders,
        |  CAST(coalesce(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)),
        |           CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS returned_value
        |FROM orders LEFT OUTER JOIN (SELECT * FROM lineitem WHERE l_returnflag = 'R') r
        |  ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q18_having_scalar" ->
      """WITH counts AS (
        |  SELECT l_partkey, COUNT(*) AS n_items FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, n_items FROM counts
        |WHERE n_items > (SELECT 1.5 * CAST(SUM(n_items) AS DOUBLE) / COUNT(*) FROM counts)
        |ORDER BY l_partkey""".stripMargin,

    "q19_crossjoin_rank" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS rev
        |  FROM lineitem GROUP BY l_suppkey),
        |asc_r AS (SELECT l_suppkey AS supp_worst,
        |    CAST(rank() OVER (ORDER BY rev ASC, l_suppkey ASC) AS BIGINT) AS rnk FROM rev),
        |desc_r AS (SELECT l_suppkey AS supp_best,
        |    CAST(rank() OVER (ORDER BY rev DESC, l_suppkey DESC) AS BIGINT) AS rnk FROM rev)
        |SELECT asc_r.rnk AS rnk, supp_best, supp_worst
        |FROM asc_r JOIN desc_r ON asc_r.rnk = desc_r.rnk
        |WHERE asc_r.rnk <= 5 ORDER BY asc_r.rnk""".stripMargin,

    "q24_string_funcs" ->
      """SELECT lang, n_docs, total_chars, n_like_the, min_prefix, max_source,
        |  lang || ':' || max_source AS label
        |FROM (
        |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(SUM(CASE WHEN text LIKE '%the%' THEN 1 ELSE 0 END) AS BIGINT) AS n_like_the,
        |    MIN(substring(text, 1, 12)) AS min_prefix,
        |    MAX(upper(source)) AS max_source
        |  FROM documents WHERE lang IN ('en', 'de', 'fr')
        |  GROUP BY lang) t
        |ORDER BY lang""".stripMargin,

    "q25_date_interval" ->
      """SELECT o_orderpriority, COUNT(*) AS n_shipped_30d
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q26_selfjoin_lag" ->
      """WITH monthly AS (
        |  SELECT p_brand, CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev,
        |    CAST(row_number() OVER (PARTITION BY p_brand
        |      ORDER BY CAST(date_trunc('month', l_shipdate) AS DATE)) AS BIGINT) AS rn
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, CAST(date_trunc('month', l_shipdate) AS DATE))
        |SELECT v1.p_brand, v1.ship_month, CAST(v1.rev AS DOUBLE) AS rev,
        |  CAST(v2.rev AS DOUBLE) AS prev_rev
        |FROM monthly v1 JOIN monthly v2
        |  ON v1.p_brand = v2.p_brand AND v1.rn = v2.rn + 1
        |ORDER BY v1.p_brand, v1.ship_month""".stripMargin,

    "q27_union_all_channels" ->
      """SELECT channel, order_year,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n_orders
        |FROM (
        |  SELECT 'fulfilled' AS channel, CAST(date_trunc('year', o_orderdate) AS DATE) AS order_year,
        |    o_totalprice FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'open' AS channel, CAST(date_trunc('year', o_orderdate) AS DATE) AS order_year,
        |    o_totalprice FROM orders WHERE o_orderstatus = 'O'
        |) t
        |GROUP BY channel, order_year
        |ORDER BY channel, order_year""".stripMargin,

    "q47_windowed_counts" -> SharedSql.windowedCounts,

    // Streaming replay of the same windowed aggregate over a 10% event
    // slice: the flushed Append-mode stream state must equal the batch
    // group-by over that slice.
    "q68_stream_windows" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_id % 10 = 0
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    // Connected components over the q31 pair list via recursive
    // reachability; component = min reachable id, so cluster summaries
    // are engine-independent.
    "q65_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |prs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
        |          UNION SELECT id_b, id_a FROM prs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
        |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
        |SELECT component, COUNT(*) AS members, MAX(id) AS max_id
        |FROM comp GROUP BY component ORDER BY component""".stripMargin,

    // Word-8-gram overlap between the (doc_id % 97 = 0) eval slice and the
    // rest of the corpus, per source.
    "q66_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 7, 1) + 1),
        |    i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM toks),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |hit AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev ON sh.s = ev.s
        |        WHERE sh.doc_id % 97 <> 0)
        |SELECT d.source, COUNT(*) AS n_train, COUNT(h.doc_id) AS n_contaminated
        |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 97 <> 0
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // Contiguous-fill packing replica: same md5 corpus order, same
    // exclusive-offset integer floor-division bin assignment (the window
    // form — the engine's distributed prefix sum must agree exactly).
    "q69_sequence_packing" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM tok)
        |SELECT CAST(off // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM cum GROUP BY bin ORDER BY bin""".stripMargin,

    // Funnel replica: same lang-ID argmax, quality-score formula,
    // repetition ratio, and fingerprint as q37/q38/q59/q30, staged as
    // cumulative predicates and counted in one conditional aggregate.
    "q70_curation_funnel" ->
      """WITH e AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    len(t) AS nt, len(list_distinct(t)) AS nd,
        |    md5(array_to_string(t, ' ')) AS fp,
        |    len(list_intersect(t, ['the','a','and','of','to','in','is','on','for','with'])) AS s_en,
        |    len(list_intersect(t, ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS s_de,
        |    len(list_intersect(t, ['le','la','les','et','est','une','dans','pour','que','au'])) AS s_fr,
        |    len(list_intersect(t, ['el','los','las','y','es','una','por','con','para','como'])) AS s_es,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS atl,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS swr,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS nr
        |  FROM e),
        |g AS (
        |  SELECT *,
        |    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_guess,
        |    CASE WHEN nt < 5 THEN 0.0 ELSE
        |      1.0 - abs(atl - 5.0) / 10.0 - nr
        |        + CASE WHEN swr BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END
        |    END AS q
        |  FROM f),
        |flags AS (
        |  SELECT *,
        |    (lang_guess = 'en') AS p1,
        |    (lang_guess = 'en' AND q > 0.3) AS p2,
        |    (lang_guess = 'en' AND q > 0.3 AND nt > 0
        |      AND CAST(nd AS DOUBLE) / nt >= 0.55) AS p3
        |  FROM g)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
        |  CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
        |  CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  CAST(COUNT(DISTINCT CASE WHEN p3 THEN fp END) AS BIGINT) AS n_unique
        |FROM flags""".stripMargin,

    // The incremental rows (versions 2-3 = everything since 2024-01-10)
    // as a plain time filter — the store's manifest-diff scan must return
    // exactly this row set.
    "q71_incremental_read" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE ts >= '2024-01-10'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Micro-batched union of all three snapshots = the whole table.
    "q72_stream_table_source" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Deterministic per-stratum reservoir: top-40 per source by md5(id).
    "q67_stratified_sample" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 40
        |ORDER BY source, doc_id""".stripMargin,

    // Final state of the CTAS → INSERT → 3-branch MERGE pipeline, as one
    // SELECT: k%4∈{0,2} original, k%4=1 updated (+100) unless k%8=1
    // (deleted), k%4=3 inserted.
    "q48_sql_writes" ->
      """WITH finalt AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 8 = 5 THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
        |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
        |  FROM orders
        |  WHERE o_orderkey % 4 IN (0, 2, 3)
        |     OR (o_orderkey % 4 = 1 AND o_orderkey % 8 = 5))
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM finalt GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q45_batch_sessions" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q46_asof_join" ->
      """SELECT e.event_id, e.user_id, p.value AS last_purchase_value
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,

    // DuckDB equivalent of the normalized-content fingerprint:
    // md5 over the space-joined, lowercased, non-word-split token stream.
    "q30_dedup_exact" ->
      """WITH fp AS (
        |  SELECT *, md5(array_to_string(
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''), ' ')) AS f
        |  FROM documents),
        |deduped AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp)
        |  WHERE rn = 1)
        |SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT f) AS n_unique
        |FROM deduped GROUP BY source ORDER BY source""".stripMargin,

    "q31_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
        |FROM pairs JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
        |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // Bit-identical replica of the portable MinHash+LSH pipeline: same
    // 28-bit md5 shingle key, same seeded affine hash family, same 4-row
    // band md5, same exact Jaccard verify over candidates.
    "q32_minhash_lsh" -> {
      val values = Dedup.minhashAffineConsts(32).zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      def nib(k: Int) = {
        val a = s"ascii(substr(hx, ${k + 1}, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      val xExpr = (0 until 7).map(k => s"${nib(k)} * ${1L << (4 * k)}").mkString(" + ")
      raw"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |sh AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(t) - 2, 1) + 1),
           |    i -> array_to_string(t[i:i+2], ' ')))) AS s
           |  FROM toks),
           |xs AS (
           |  SELECT doc_id, CAST($xExpr AS BIGINT) AS x
           |  FROM (SELECT doc_id, md5(s) AS hx FROM sh) keyed),
           |mh AS (
           |  SELECT doc_id, i, min((a * x + b) % ${Dedup.MinhashPrime}) AS h
           |  FROM xs, (VALUES $values) consts(i, a, b) GROUP BY doc_id, i),
           |bands AS (
           |  SELECT doc_id, i // 4 AS band,
           |    md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)) AS bh
           |  FROM mh GROUP BY doc_id, i // 4),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, COUNT(*) AS i
           |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
           |  GROUP BY c.id_a, c.id_b)
           |SELECT id_a, id_b, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
           |FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
           |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin
    },

    // Bit-identical replica of the portable SimHash pipeline: 60-bit
    // signature from md5 hex nibbles, 15-bit chunk banding, bit_count
    // Hamming verify. Generated per-bit SQL (60 sums) — the shape the
    // Spark aggregate compiles to as well.
    "q33_simhash" -> {
      val nibs = (0 until 15).map { k =>
        val a = s"ascii(substr(hx, ${k + 1}, 1))"
        s"CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END AS n$k"
      }.mkString(",\n    ")
      val sums = (0 until 60).map(b =>
        s"SUM(CASE WHEN ((n${b / 4} >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n    ")
      val sig = (0 until 60).map(b =>
        s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
      raw"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
           |hx AS (SELECT doc_id, md5(w) AS hx FROM tok),
           |nib AS (SELECT doc_id,
           |    $nibs
           |  FROM hx),
           |bits AS (SELECT doc_id,
           |    $sums
           |  FROM nib GROUP BY doc_id),
           |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS sh FROM bits),
           |ch AS (SELECT doc_id, sh, c, (sh >> CAST(c * 15 AS INTEGER)) & 32767 AS v
           |       FROM sig, range(0, 4) r(c)),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sa, b.sh AS sb
           |  FROM ch a JOIN ch b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
           |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
           |FROM cand WHERE bit_count(xor(sa, sb)) <= 6
           |ORDER BY id_a, id_b""".stripMargin
    },

    "q34_embedding_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    // Replica of the hyperplane-LSH bucketing with the SAME seeded planes
    // embedded as literals (Dedup.hyperplanes rounds to 6 decimals so the
    // literals parse to bit-identical doubles), then exact cosine verify.
    "q35_embedding_neardup_lsh" ->
      s"""$embeddingLshOracleBody
         |ORDER BY id_a, id_b""".stripMargin,

    "q36_similarity_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)
        |SELECT query_id, rk, vec_id FROM (
        |  SELECT q.qid AS query_id, c.vec_id,
        |    CAST(row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(qv, cv) DESC, c.vec_id) AS BIGINT) AS rk
        |  FROM q, c WHERE c.vec_id <> q.qid) t
        |WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin,

    "q57_sql_update_delete" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |           THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |           ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 10 <> 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q58_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN 'late' ELSE 'legacy' END AS channel,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q59_repetition_filter" ->
      """WITH t AS (
        |  SELECT source,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS nt,
        |    len(list_distinct(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''))) AS nd
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(SUM(nd) AS BIGINT) AS distinct_tokens,
        |  CAST(SUM(CASE WHEN CAST(nd AS DOUBLE) / nt < 0.55 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        |FROM t WHERE nt > 0 GROUP BY source ORDER BY source""".stripMargin,

    // Same ≤64-query md5-ordered gate sample as the Spark side.
    "q56_ivf_ann_recall" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | CAST(TRUE AS BOOLEAN) AS recall_ok
        |FROM (
        |  SELECT vec_id, row_number() OVER (
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM embeddings WHERE vec_id % 100 = 0) t
        |WHERE rn <= 64""".stripMargin,

    "q37_text_langid" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    len(list_intersect(t, ['the','a','and','of','to','in','is','on','for','with'])) AS s_en,
        |    len(list_intersect(t, ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS s_de,
        |    len(list_intersect(t, ['le','la','les','et','est','une','dans','pour','que','au'])) AS s_fr,
        |    len(list_intersect(t, ['el','los','las','y','es','una','por','con','para','como'])) AS s_es
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |        FROM documents) tt)
        |SELECT lang_guess, COUNT(*) AS n_docs FROM (
        |  SELECT CASE
        |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |    WHEN s_fr >= s_es THEN 'fr'
        |    ELSE 'es' END AS lang_guess
        |  FROM scored) t
        |GROUP BY lang_guess ORDER BY lang_guess""".stripMargin,

    "q38_text_quality" ->
      """WITH feat AS (
        |  SELECT lang,
        |    len(t) AS n_tokens,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS avg_token_len,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS stopword_ratio,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS noise_ratio
        |  FROM (SELECT lang, text,
        |          list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |        FROM documents) tt),
        |q AS (
        |  SELECT lang, n_tokens,
        |    CASE WHEN n_tokens < 5 THEN 0.0 ELSE
        |      1.0 - abs(avg_token_len - 5.0) / 10.0 - noise_ratio
        |        + CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END
        |    END AS quality_score
        |  FROM feat)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CASE WHEN quality_score > 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(SUM(CASE WHEN quality_score < 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    "q39_token_stats" ->
      """SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS total_tokens,
        |  COUNT(DISTINCT tok) AS vocab_size
        |FROM (SELECT source, doc_id,
        |        unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS tok
        |      FROM documents) t
        |GROUP BY source ORDER BY source""".stripMargin,

    "q40_fingerprint_buckets" ->
      """SELECT substring(f, 1, 1) AS bucket, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT f) AS n_unique
        |FROM (SELECT md5(array_to_string(
        |        list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''), ' ')) AS f
        |      FROM documents) t
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q42_vector_sql" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
         |FROM ($embeddingLshOracleBody) pairs""".stripMargin,

    "q54_sample_delta" -> {
      def nib(i: Int) = {
        val a = s"ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), $i, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      s"""SELECT CAST(count(*) AS BIGINT) AS n_sampled,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders
         |WHERE ${nib(1)} * 16 + ${nib(2)} < 25""".stripMargin
    },

    "q41_multimodal_features" ->
      """SELECT kind, COUNT(*) AS n_media,
        |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
        |  CAST(SUM(thumb_w) AS BIGINT) AS total_thumb_w
        |FROM (
        |  SELECT
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        |    CASE WHEN doc_id % 3 = 2 THEN greatest(1, n_chars // 10)
        |      WHEN doc_id % 3 = 1 THEN greatest(1, n_chars)
        |      ELSE 1 END AS n_frames,
        |    CASE WHEN doc_id % 3 = 0 THEN greatest(1, ((n_chars % 64) + 1) // 8)
        |      ELSE 0 END AS thumb_w
        |  FROM documents) t
        |GROUP BY kind ORDER BY kind""".stripMargin,

    // Same PII injection (from doc_id), same regexes — the patterns are
    // written in the Java-regex ∩ RE2 common subset so both engines match
    // identically; DuckDB needs the 'g' flag for replace-all.
    "q73_pii_redaction" ->
      """WITH p AS (
        |  SELECT source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      || CASE WHEN doc_id % 2 = 0
        |           THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |                || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
        |      || CASE WHEN doc_id % 3 = 0 THEN ' call 555-867-5309' ELSE '' END AS t
        |  FROM documents),
        |r AS (
        |  SELECT source, t,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS rr
        |  FROM p)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
        |  CAST(SUM(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) AS BIGINT) AS n_ips,
        |  CAST(SUM(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b'))) AS BIGINT) AS n_phones,
        |  CAST(SUM(length(t) - length(rr)) AS BIGINT) AS chars_removed,
        |  CAST(SUM(len(regexp_extract_all(rr, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(rr, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |     + len(regexp_extract_all(rr, '\b\d{3}-\d{3}-\d{4}\b'))) AS BIGINT) AS n_residual
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // Same URL injection; domains = regex group 1 of every match.
    "q74_url_domains" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' see https://cdn' || CAST(doc_id % 40 AS VARCHAR)
        |      || '.example.org/p/' || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN ' and http://www.test-site.io/home' ELSE '' END AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain
        |  FROM p)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM d GROUP BY domain ORDER BY domain""".stripMargin,

    // Chunk starts 0, 180, 360, … below max(len,1); chunk = 240-char
    // substring; distribution over per-doc chunk counts.
    "q75_doc_chunking" ->
      """WITH starts AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(length(text), 1), 180)) AS s
        |  FROM documents),
        |per_doc AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks,
        |    SUM(length(substring(text, CAST(s + 1 AS INT), 240))) AS doc_chunk_chars
        |  FROM starts GROUP BY doc_id)
        |SELECT n_chunks, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_chunk_chars) AS BIGINT) AS total_chunk_chars
        |FROM per_doc GROUP BY n_chunks ORDER BY n_chunks""".stripMargin,

    // Batch DISTINCT over the same keys the stream dedups on — exactness
    // holds because every duplicate of a (user, type, day) key arrives
    // within the 48 h watermark delay of its first occurrence.
    "q77_stream_dedup" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_unique
        |FROM (SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS d
        |      FROM events WHERE event_id % 10 = 0) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The rewrite only relocates rows across files — the range read's
    // result must equal the plain filter.
    "q78_sorted_rewrite" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS files_pruned
        |FROM events WHERE value >= 10.0 AND value <= 20.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Stage + publish of the odd half on top of the even half = the whole
    // table.
    "q79_write_audit_publish" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS staged_invisible
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Expected change feed, constructed from the known commit plan:
    // v1 = even inserts, v2 = odd inserts, v3 = delete every %4==0 old
    // image + insert the updated (+100) images except the %8==4 deletes.
    "q86_changelog_scan" ->
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
        |ORDER BY _commit_version, _change_type""".stripMargin,

    // Final state of the bucketed merge: every order (+100 on the smallest
    // 8 keys of the %2000==3 class), plus the smallest 8 of %2000==7
    // duplicated under fresh keys — fixed-size sets, scale-stable.
    "q87_bucketed_merge" ->
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
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Last-image-wins state: %100==1 carries the second (+200) image,
    // %100==2 is deleted, everything else is the original row.
    "q88_merge_on_read" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_id % 100 = 1
        |       THEN CAST(value AS DECIMAL(18,2)) + 200
        |       ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value,
        |  true AS no_rewrite
        |FROM events WHERE event_id % 100 <> 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The streamed sink table must equal the batch slice it replayed.
    "q89_stream_sink" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS epoch_ledger_ok
        |FROM events WHERE event_id % 10 = 3
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The manifest-served aggregate must equal the data's true aggregate.
    // (No MIN(value): a ±0.0 float extreme is un-pushable — parquet widens
    // zero bounds — so it would make the metadata_only flag scale-vary.)
    "q92_metadata_agg" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(event_id) AS BIGINT) AS min_id,
        |  CAST(MAX(event_id) AS BIGINT) AS max_id,
        |  CAST(MAX(value) AS DOUBLE) AS max_value,
        |  MIN(event_type) AS first_type, MAX(event_type) AS last_type,
        |  true AS metadata_only
        |FROM events""".stripMargin,

    // Per-partition manifest fold must equal the true grouped aggregate.
    "q93_metadata_agg_grouped" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(value) AS DOUBLE) AS max_value,
        |  CAST(MIN(event_id) AS BIGINT) AS min_id,
        |  true AS metadata_only
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The mixed-layout table reads whole: identity-partitioned first half
    // plus bucket-partitioned second half must equal all of events.
    "q94_partition_evolution" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS evo_ok
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The SQL-bucketed table must read back as plain orders.
    "q96_bucket_sql_write" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  true AS bucketed_ok
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // The co-bucketed zero-shuffle join must agree with a plain join.
    "q97_spj_join" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  true AS spj_zero_shuffle
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Same last-image-wins state as q88, read through SQL with no compact.
    "q95_mor_sql_read" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_id % 100 = 1
        |       THEN CAST(value AS DECIMAL(18,2)) + 200
        |       ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value,
        |  true AS mor_scan
        |FROM events WHERE event_id % 100 <> 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // One partition's rows re-materialized at value+500, the rest original.
    "q91_dynamic_overwrite" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_type = (SELECT min(event_type) FROM events)
        |       THEN CAST(value AS DECIMAL(18,2)) + 500
        |       ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value,
        |  true AS untouched_kept
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Post-CDC state of the %10==4 slice: %3==1 carries the +1000 image,
    // %3==2 is deleted, the rest is the original row.
    "q90_stream_upsert_mor" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_id % 3 = 1
        |       THEN CAST(value AS DECIMAL(18,2)) + 1000
        |       ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value,
        |  true AS epoch_ledger_ok
        |FROM events WHERE event_id % 10 = 4 AND event_id % 3 <> 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Batch gap-sessionization over the same slice (q45's SQL shape with
    // the slice filter): session starts where the micros gap exceeds
    // 30 min.
    "q85_stream_sessionize" ->
      """WITH e AS (SELECT user_id, ts FROM events WHERE event_id % 10 = 0),
        |g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Same 8-token shingle replica as q31's 3-token one; a shingle's
    // containing-doc count is COUNT(*) because shingles are distinct per
    // doc.
    "q83_dup_shingle_fraction" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 7, 1) + 1),
        |    i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM toks),
        |cnt AS (SELECT s, COUNT(*) AS ndocs FROM sh GROUP BY s),
        |perdoc AS (
        |  SELECT sh.doc_id, sh.source, COUNT(*) AS n_sh,
        |    SUM(CASE WHEN cnt.ndocs > 1 THEN 1 ELSE 0 END) AS n_dup
        |  FROM sh JOIN cnt ON sh.s = cnt.s
        |  GROUP BY sh.doc_id, sh.source)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_sh) AS BIGINT) AS total_shingles,
        |  CAST(SUM(n_dup) AS BIGINT) AS dup_shingles,
        |  CAST(SUM(CASE WHEN n_dup * 2 > n_sh THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_majority_dup
        |FROM perdoc GROUP BY source ORDER BY source""".stripMargin,

    // The batch interval join the stream must reproduce exactly.
    "q84_stream_interval_join" ->
      """SELECT r.event_type AS r_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CAST(l.value AS DECIMAL(18,2))) AS DOUBLE) AS total_l_value
        |FROM (SELECT * FROM events WHERE event_id % 10 = 0) l
        |JOIN (SELECT * FROM events WHERE event_id % 10 = 5) r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        |GROUP BY r.event_type ORDER BY r_type""".stripMargin,

    // Bit-identical replay of the int8 quantization (floor round-half-up,
    // same MIN_NORMAL guard), integer-dot cosine ranking, and float-top-k
    // recall join.
    "q82_quantized_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        greatest(list_max(list_transform(e, x -> abs(x))),
        |                 2.2250738585072014e-308) AS sc
        |      FROM v),
        |qz AS (SELECT vec_id, list_transform(e, x -> floor(x * 127.0 / sc + 0.5)) AS c
        |       FROM s),
        |qq AS (SELECT vec_id AS qid, c AS qc FROM qz WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT qq.qid AS query_id, qz.vec_id,
        |    CASE WHEN list_inner_product(qq.qc, qq.qc) = 0
        |           OR list_inner_product(qz.c, qz.c) = 0 THEN -2.0
        |         ELSE list_inner_product(qq.qc, qz.c)
        |           / (sqrt(list_inner_product(qq.qc, qq.qc))
        |              * sqrt(list_inner_product(qz.c, qz.c)))
        |    END AS qsim
        |  FROM qq, qz WHERE qz.vec_id <> qq.qid),
        |qtop AS (
        |  SELECT query_id, rk, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      CAST(row_number() OVER (PARTITION BY query_id
        |        ORDER BY qsim DESC, vec_id) AS BIGINT) AS rk
        |    FROM scored) t WHERE rk <= 10),
        |ftop AS (
        |  SELECT qid AS query_id, vec_id FROM (
        |    SELECT q.vec_id AS qid, c.vec_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id) AS rk
        |    FROM (SELECT * FROM v WHERE vec_id % 100 = 0) q, v c
        |    WHERE c.vec_id <> q.vec_id) t WHERE rk <= 10),
        |hits AS (SELECT qtop.query_id AS hq, COUNT(*) AS n_hits
        |         FROM qtop JOIN ftop ON qtop.query_id = ftop.query_id
        |                            AND qtop.vec_id = ftop.vec_id
        |         GROUP BY qtop.query_id)
        |SELECT query_id, rk, vec_id,
        |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits
        |FROM qtop LEFT JOIN hits ON query_id = hq
        |ORDER BY query_id, rk""".stripMargin,

    // The z-curve rewrite only relocates rows — each dimension's range
    // read must equal the plain filter.
    "q81_zorder_rewrite" ->
      """SELECT 'user_id' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS files_pruned
        |FROM events WHERE user_id >= 0 AND user_id <= 50
        |UNION ALL
        |SELECT 'value' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS files_pruned
        |FROM events WHERE value >= 10.0 AND value <= 20.0
        |ORDER BY dim""".stripMargin,

    // The tagged snapshot is exactly the %3==0 third; current is the whole
    // table — expiry must have changed neither.
    "q80_snapshot_tags" ->
      """SELECT 'train-v1' AS snapshot, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 3 = 0 GROUP BY event_type
        |UNION ALL
        |SELECT 'current' AS snapshot, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY snapshot, event_type""".stripMargin,

    // Global md5(doc_id) rank → round-robin shard + within-shard position;
    // the checksum pins the exact permutation.
    "q76_corpus_shuffle" ->
      """WITH ranked AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |  FROM documents)
        |SELECT CAST(pos % 8 AS INT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM((pos // 8) * doc_id) AS BIGINT) AS order_checksum
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,

    // Bit-identical replay of the portable k-means: same int8 codes, same
    // md5-ordered seeds, fixed-point centroids floor((S·256+n)/(2n)), and
    // the same exact distance 16384·q·q − 256·q·c + c·c — every term
    // < 2^53, so double arithmetic is exact on both engines.
    "q98_kmeans" ->
      s"""WITH ${kmeansCtes(8, 4)}
         |SELECT vec_id, CAST(cid AS INT) AS cluster, dist FROM fin""".stripMargin,

    // SemDeDup on the final assignment: within-cluster pairs under the
    // exact integer cosine² threshold (thr = 90% → 10⁴·dot² ≥ 8100·na·nb).
    "q99_semdedup" ->
      s"""WITH ${kmeansCtes(8, 4)},
         |base AS (SELECT f.vec_id, f.cid AS cluster, f.q,
         |           list_inner_product(f.q, f.q) AS nn FROM fin f),
         |dup AS (SELECT DISTINCT b.vec_id AS dupid
         |  FROM base a JOIN base b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE list_inner_product(a.q, b.q) > 0
         |    AND 10000 * CAST(list_inner_product(a.q, b.q)
         |                     * list_inner_product(a.q, b.q) AS BIGINT)
         |        >= 8100 * CAST(a.nn * b.nn AS BIGINT))
         |SELECT vec_id, CAST(cluster AS INT) AS cluster,
         |  (dupid IS NOT NULL) AS is_dup
         |FROM base LEFT JOIN dup ON vec_id = dupid""".stripMargin,

    // Final state after: +100 upsert (%100=1), MoR delete (%100=2), SQL
    // DELETE (%100=3), +300 upsert (%100=4), MERGE upsert +500 (%100∈{2,5}
    // — the dead 2s re-insert, the live 5s update).
    "q100_mor_sql_write" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CASE
        |    WHEN event_id % 100 = 1 THEN value + 100.0
        |    WHEN event_id % 100 = 2 THEN value + 500.0
        |    WHEN event_id % 100 = 4 THEN value + 300.0
        |    WHEN event_id % 100 = 5 THEN value + 500.0
        |    ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS mor_write_ok
        |FROM events WHERE event_id % 100 <> 3
        |GROUP BY event_type""".stripMargin,

    // Overlay consolidation changes no visible row: +100 then +200
    // upserts on %100=1 (last image wins), %100∈{2,3} MoR-deleted.
    "q101_rewrite_delete_files" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CASE
        |    WHEN event_id % 100 = 1 THEN value + 200.0
        |    ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS consolidated
        |FROM events WHERE event_id % 100 NOT IN (2, 3)
        |GROUP BY event_type""".stripMargin,

    // Adopted fixture + native append of event_id<=100 at value+1000.
    "q102_add_files" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS adopted_external, true AS source_intact
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT event_type, value + 1000.0 AS value FROM events
        |      WHERE event_id <= 100)
        |GROUP BY event_type""".stripMargin,

    // Same selection rule replayed in SQL: exclusive per-domain running
    // token offset in md5(doc_id) order, kept while below the domain's
    // integer target (budget 10000, parts (i%4)+1 → floor targets
    // 200/400/600/800).
    "q103_domain_mixture" ->
      """WITH t AS (SELECT doc_id, source,
        |    len(list_filter(string_split_regex(lower(text), '\W+'),
        |        x -> x <> '')) AS tok
        |  FROM documents),
        |p AS (SELECT doc_id, source, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS sum_tokens
        |FROM p
        |WHERE off < CASE CAST(substring(source, 4) AS INT) % 4
        |    WHEN 0 THEN 200 WHEN 1 THEN 400 WHEN 2 THEN 600 ELSE 800 END
        |GROUP BY source ORDER BY source""".stripMargin,

    // Bit-identical classifier replay: 28-bit md5 token hash (nibble
    // accumulation), bucket mod 1024, affine weight mod 4093 − 2046.
    "q104_quality_classifier" -> {
      def nib(k: Int) = {
        val a = s"ascii(substr(md5(t), ${k + 1}, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      val x = (0 until 7).map(k => s"${nib(k)} * ${1L << (4 * k)}").mkString(" + ")
      raw"""WITH scored AS (SELECT source,
           |    COALESCE(list_sum(list_transform(
           |      list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''),
           |      t -> ((CAST($x AS BIGINT) % 1024) * 1103515245 + 12345)
           |           % 4093 - 2046)), 0) AS score
           |  FROM documents)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           |  CAST(SUM(score) AS BIGINT) AS sum_score
           |FROM scored
           |GROUP BY source ORDER BY source""".stripMargin
    },

    // Same window keys (md5 of the space-joined 8-token slice), same
    // min≠max duplication test, same interval-union coverage.
    "q105_span_dedup" ->
      raw"""WITH toks AS (SELECT doc_id, source,
           |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |wins AS (SELECT doc_id, CAST(r.i AS INT) AS s,
           |    md5(array_to_string(t[r.i:r.i+7], ' ')) AS k
           |  FROM toks,
           |    (SELECT unnest(range(1, (SELECT MAX(len(t)) FROM toks) + 1)) AS i) r
           |  WHERE r.i + 7 <= len(t)),
           |dup AS (SELECT k FROM wins GROUP BY k HAVING MIN(doc_id) <> MAX(doc_id)),
           |dw AS (SELECT DISTINCT doc_id, s FROM wins JOIN dup USING (k)),
           |cov AS (SELECT doc_id, SUM(c) AS covered FROM (
           |    SELECT doc_id, LEAST(8, COALESCE(
           |      LEAD(s) OVER (PARTITION BY doc_id ORDER BY s) - s, 8)) AS c
           |    FROM dw) x GROUP BY doc_id)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
           |  CAST(SUM(COALESCE(covered, 0)) AS BIGINT) AS dup_tokens,
           |  CAST(SUM(CASE WHEN COALESCE(covered, 0) > 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_docs_with_dup
           |FROM toks LEFT JOIN cov USING (doc_id)
           |GROUP BY source ORDER BY source""".stripMargin,

    // Final state: fixture + conforming purchase re-tag of event_id<=100
    // (both violating writes bounced without a trace).
    "q106_check_constraints" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS writes_rejected
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT 'purchase' AS event_type, value FROM events
        |      WHERE event_id <= 100)
        |GROUP BY event_type""".stripMargin,

    // Positional delete of every 'error' position, then an append of
    // error rows (event_id<=100, value+500) that must survive.
    "q107_positional_delete" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS data_untouched
        |FROM (SELECT event_type, value FROM events
        |      WHERE event_type <> 'error'
        |      UNION ALL
        |      SELECT event_type, value + 500.0 AS value FROM events
        |      WHERE event_type = 'error' AND event_id <= 100)
        |GROUP BY event_type""".stripMargin,

    // Ordered-write layout changes no visible row.
    "q108_write_order" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS pruned
        |FROM events GROUP BY event_type""".stripMargin,

    // Rate-limited streaming delivers exactly the backlog's rows
    // (event_id % 10 = 0, i.e. % 40 in {0,10,20,30}).
    "q109_stream_rate_limit" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS bounded_batches
        |FROM events WHERE event_id % 10 = 0
        |GROUP BY event_type""".stripMargin,

    // Fixture + the branch's two published appends (+100 for id<=100,
    // +200 for 100<id<=200).
    "q110_branch_fast_forward" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS branch_ok
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT event_type, value + 100.0 FROM events WHERE event_id <= 100
        |      UNION ALL
        |      SELECT event_type, value + 200.0 FROM events
        |      WHERE event_id > 100 AND event_id <= 200)
        |GROUP BY event_type""".stripMargin,

    // Same packing prefix sum, same corpus order, same <eos> separator —
    // the shard text hashes must agree byte-for-byte.
    "q111_shard_materialize" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, ord, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM tok),
        |b AS (SELECT doc_id, ord, CAST(off // 2048 AS BIGINT) AS bin FROM cum)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  md5(string_agg(d.text, ' <eos> ' ORDER BY b.ord, b.doc_id)) AS shard_md5
        |FROM b JOIN documents d USING (doc_id)
        |GROUP BY bin ORDER BY bin""".stripMargin,

    // Partial compaction changes no visible row.
    "q112_compact_where" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS partial_rewrite
        |FROM events GROUP BY event_type""".stripMargin,

    // The view aggregates the FULL fixture (second half appended after
    // CREATE VIEW — views expand over live tables).
    "q113_sql_views" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS view_listed
        |FROM events GROUP BY event_type""".stripMargin,

    // Main = fixture + tripled rows under the 1000 cap; quarantined =
    // tripled rows at or over it.
    "q114_quarantine" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        |   WHERE NOT (value * 3.0 < 1000)) AS n_quarantined,
        |  true AS tagged
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT event_type, value * 3.0 AS value FROM events
        |      WHERE value * 3.0 < 1000)
        |GROUP BY event_type""".stripMargin,

    // The incrementally-folded view equals a from-scratch aggregate.
    "q115_incremental_matview" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS incremental
        |FROM events GROUP BY event_type""".stripMargin,

    // Same tokenizer, same conjunctive-AND + tf-sum scoring, same
    // (score desc, doc_id) total order.
    "q116_inverted_search" ->
      raw"""WITH idx AS (
           |  SELECT doc_id, tok AS token, CAST(COUNT(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id,
           |          unnest(list_filter(string_split_regex(lower(text), '\W+'),
           |            x -> x <> '')) AS tok
           |        FROM documents) t
           |  GROUP BY doc_id, tok)
           |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS score
           |FROM idx WHERE token IN ('table', 'query')
           |GROUP BY doc_id
           |HAVING COUNT(DISTINCT token) = 2
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // The clone = fixture + its own +700 append of event_id<=100.
    "q117_shallow_clone" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS zero_copy
        |FROM (SELECT event_type, value FROM events
        |      UNION ALL
        |      SELECT event_type, value + 700.0 AS value FROM events
        |      WHERE event_id <= 100)
        |GROUP BY event_type""".stripMargin,

    // The days(ts) layout must not change WHAT the range query returns —
    // only how many files it reads (hidden_prune is runtime evidence).
    "q118_hidden_partitioning" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS hidden_prune
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type""".stripMargin,

    // Bit-identical replay of NgramLM.bigramScores: same tokenizer as
    // q105's oracle, same integer floor divisions.
    "q119_ngram_lm_score" ->
      raw"""WITH toks AS (SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |bg AS (SELECT doc_id, t[r.i] || ' ' || t[r.i+1] AS bg
           |  FROM toks,
           |    (SELECT unnest(range(1, (SELECT MAX(len(t)) FROM toks) + 1)) AS i) r
           |  WHERE r.i + 1 <= len(t)),
           |cb AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY bg),
           |cp AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS cp
           |  FROM bg GROUP BY 1),
           |occ AS (SELECT doc_id, (1000000 * cb.cb) // cp.cp AS s
           |  FROM bg JOIN cb USING (bg)
           |  JOIN cp ON split_part(bg.bg, ' ', 1) = cp.w1)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           |  CAST(SUM(s) // COUNT(*) AS BIGINT) AS lm_score
           |FROM occ GROUP BY doc_id
           |ORDER BY lm_score, doc_id LIMIT 20""".stripMargin,

    // Bit-identical KMV replay: same 48-bit md5-prefix hashes, same
    // (k-1)·2^48 // h_k floor estimate (k = 64).
    "q120_kmv_distinct" ->
      """WITH pairs AS (SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
        |  FROM events),
        |topk AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM pairs),
        |a AS (SELECT event_type,
        |    CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
        |      ELSE (63 * 281474976710656) // greatest(MAX(h), 1) END
        |      AS BIGINT) AS approx_distinct
        |  FROM topk WHERE rn <= 64 GROUP BY event_type),
        |e AS (SELECT event_type,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT a.event_type, approx_distinct, exact_distinct,
        |  abs(approx_distinct - exact_distinct) * 10 <= exact_distinct
        |    AS within_10pct
        |FROM a JOIN e USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // Re-derives the q82 int8 codes, the md5-parity sign matrix, and the
    // integer projections — bit-identical to Projection.signedProject.
    "q121_random_projection" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |s AS (SELECT vec_id, e,
        |    greatest(list_max(list_transform(e, x -> abs(x))),
        |             2.2250738585072014e-308) AS sc FROM v),
        |qz AS (SELECT vec_id,
        |    list_transform(e, x -> CAST(floor(x * 127.0 / sc + 0.5) AS BIGINT)) AS c
        |  FROM s),
        |grid AS (SELECT a.j, b.i,
        |    CASE WHEN (('0x' || substr(md5(a.j::VARCHAR || '_' || b.i::VARCHAR),
        |      1, 1))::INT % 2) = 0 THEN 1 ELSE -1 END AS sg
        |  FROM range(1, 17) a(j), range(1, 65) b(i)),
        |qv AS (SELECT vec_id, t.i, c[t.i] AS q
        |  FROM qz, range(1, 65) t(i)),
        |o AS (SELECT vec_id, j, SUM(q * sg) AS p
        |  FROM qv JOIN grid USING (i) GROUP BY vec_id, j)
        |SELECT vec_id, CAST(SUM(p * j) AS BIGINT) AS proj_checksum,
        |  CAST(SUM(abs(p)) AS BIGINT) AS proj_l1
        |FROM o GROUP BY vec_id
        |ORDER BY vec_id LIMIT 20""".stripMargin,

    // Same JSON path on both engines (DuckDB's ->> returns text like
    // Spark's get_json_object; CAST to BIGINT each side).
    "q122_json_extract" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
        |  CAST(SUM(CASE WHEN CAST(props->>'$.k' AS BIGINT) > 50
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // Same normalization chain (lower → digits→0 → punct→space →
    // collapse → trim); regexes in the Java∩RE2 subset, replayed with
    // DuckDB's 'g' flag.
    "q123_normalize_dedup" ->
      """WITH m AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 100 = 0
        |           THEN 'Terms of Service apply. See section 4!'
        |         WHEN doc_id % 100 = 1
        |           THEN 'TERMS   of service APPLY;  see Section 4?'
        |         ELSE text || ' NOISE-' || CAST(doc_id % 7 AS VARCHAR)
        |              || '!!  Extra   SPACES & 123 dots...' END AS t
        |  FROM documents),
        |n AS (
        |  SELECT source, t,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      lower(t), '[0-9]', '0', 'g'),
        |      '[^a-z0-9 ]', ' ', 'g'),
        |      '  +', ' ', 'g')) AS nt
        |  FROM m)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(length(t)) AS BIGINT) AS chars_before,
        |  CAST(SUM(length(nt)) AS BIGINT) AS chars_after,
        |  CAST(COUNT(DISTINCT md5(t)) AS BIGINT) AS n_distinct_raw,
        |  CAST(COUNT(DISTINCT md5(nt)) AS BIGINT) AS n_distinct_norm
        |FROM n GROUP BY source ORDER BY source""".stripMargin,

    // Full line-dedup replay: same injection, split on the literal
    // delimiter, keeper = min(doc_id) per duplicated line, filtered
    // ordered string_agg reassembly, per-source md5 of the doc-ordered
    // rewritten corpus.
    "q124_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    text || ' | all rights reserved example site'
        |         || ' | contact support at example dot com'
        |         || CASE WHEN doc_id % 2 = 0
        |              THEN ' | subscribe to our newsletter today' ELSE '' END
        |         || ' | doc footer ' || CAST(doc_id % 5 AS VARCHAR) AS t
        |  FROM documents),
        |s AS (SELECT doc_id, string_split(t, ' | ') AS ls FROM d),
        |l AS (SELECT doc_id, CAST(r.i AS INT) AS idx, ls[CAST(r.i AS INT)] AS line
        |  FROM s,
        |    (SELECT unnest(range(1, (SELECT MAX(len(ls)) FROM s) + 1)) AS i) r
        |  WHERE r.i <= len(ls)),
        |k AS (SELECT md5(line) AS k, MIN(doc_id) AS keeper,
        |        MIN(doc_id) <> MAX(doc_id) AS dup
        |      FROM l GROUP BY md5(line)),
        |m AS (SELECT l.doc_id, l.idx, l.line,
        |        (NOT k.dup OR l.doc_id = k.keeper) AS kept
        |      FROM l JOIN k ON md5(l.line) = k.k),
        |rw AS (SELECT doc_id, COUNT(*) AS n_lines,
        |        SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept,
        |        COALESCE(string_agg(CASE WHEN kept THEN line END,
        |          ' | ' ORDER BY idx), '') AS rewritten
        |      FROM m GROUP BY doc_id)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(rw.n_lines) AS BIGINT) AS lines_total,
        |  CAST(SUM(rw.n_kept) AS BIGINT) AS lines_kept,
        |  CAST(SUM(length(rw.rewritten)) AS BIGINT) AS chars_after,
        |  md5(string_agg(rw.rewritten, ' <doc> ' ORDER BY rw.doc_id)) AS corpus_md5
        |FROM rw JOIN d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // Full SymSpell replay: same tokenization + typo injection, delete-1
    // variant keys, verified levenshtein(=) pairs.
    "q125_fuzzy_vocab" ->
      raw"""WITH tk AS (
           |  SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
           |    x -> x <> '')) AS tok FROM documents
           |  UNION ALL
           |  SELECT substr(ft, 1, 1) || 'x' || substr(ft, 3, 1000000) AS tok
           |  FROM (SELECT string_split(lower(text), ' ')[1] AS ft, doc_id
           |        FROM documents)
           |  WHERE doc_id % 37 = 0 AND length(ft) >= 3),
           |v AS (SELECT DISTINCT tok FROM tk
           |      WHERE tok IS NOT NULL AND length(tok) > 0),
           |vars AS (SELECT tok, unnest(list_distinct(list_append(
           |    list_transform(range(1, length(tok) + 1),
           |      i -> substr(tok, 1, CAST(i - 1 AS INT))
           |           || substr(tok, CAST(i + 1 AS INT), 1000000)),
           |    tok))) AS vv FROM v),
           |p AS (SELECT DISTINCT a.tok AS t1, b.tok AS t2
           |      FROM vars a JOIN vars b ON a.vv = b.vv AND a.tok < b.tok
           |      WHERE levenshtein(a.tok, b.tok) <= 1)
           |SELECT substr(t1, 1, 1) AS letter, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  MIN(t1 || '>' || t2) AS example
           |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same compressed-frame cumulative-count quantiles, integer
    // cross-multiplication (no floats, no interpolation).
    "q126_exact_quantiles" ->
      """WITH c AS (SELECT source, n_chars, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT source, n_chars,
        |    SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n
        |  FROM c)
        |SELECT source,
        |  CAST(MIN(CASE WHEN cum * 2 >= n * 1 THEN n_chars END) AS BIGINT) AS p50,
        |  CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN n_chars END) AS BIGINT) AS p90,
        |  CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN n_chars END) AS BIGINT) AS p99,
        |  CAST(MAX(n) AS BIGINT) AS n_rows
        |FROM w GROUP BY source ORDER BY source""".stripMargin,

    // A doc is admitted iff its fingerprint's first occurrence (by
    // batch, then doc_id) is this doc; corpus_rows is the running total.
    "q127_incremental_ingest" ->
      """WITH d AS (SELECT doc_id, md5(text) AS f, doc_id % 3 AS batch
        |  FROM documents),
        |firsts AS (SELECT f, MIN(batch * 10000000000 + doc_id) AS ord
        |  FROM d GROUP BY f),
        |a AS (SELECT CAST(ord // 10000000000 AS BIGINT) AS batch,
        |    COUNT(*) AS n_admitted
        |  FROM firsts GROUP BY 1),
        |i AS (SELECT batch, COUNT(*) AS n_in FROM d GROUP BY batch)
        |SELECT i.batch, CAST(i.n_in AS BIGINT) AS n_in,
        |  CAST(COALESCE(a.n_admitted, 0) AS BIGINT) AS n_admitted,
        |  CAST(SUM(COALESCE(a.n_admitted, 0))
        |    OVER (ORDER BY i.batch) AS BIGINT) AS corpus_rows
        |FROM i LEFT JOIN a USING (batch) ORDER BY i.batch""".stripMargin,

    // Full IVF replay on top of the k-means chain: probe ranking by the
    // same fixed-point distance against the final centroids (c4),
    // candidates = the probed clusters' members, quantized-domain cosine
    // top-10, overlap vs the quantized brute force.
    "q128_persistent_ivf" ->
      s"""WITH ${kmeansCtes(8, 4)},
         |qq2 AS (SELECT vec_id AS qid, q AS qc FROM qz WHERE vec_id % 100 = 0),
         |probe AS (SELECT qid, cid FROM (
         |    SELECT qq2.qid, c.cid, row_number() OVER (PARTITION BY qq2.qid
         |      ORDER BY 16384*list_inner_product(qq2.qc,qq2.qc)
         |        - 256*list_inner_product(qq2.qc,c.c)
         |        + list_inner_product(c.c,c.c), c.cid) AS rk
         |    FROM qq2, c4 c) t WHERE rk <= 2),
         |cand AS (SELECT p.qid, f.vec_id, qq2.qc, f.q AS cc
         |  FROM probe p JOIN fin f ON f.cid = p.cid
         |  JOIN qq2 ON qq2.qid = p.qid
         |  WHERE f.vec_id <> p.qid),
         |sc2 AS (SELECT qid, vec_id,
         |    CASE WHEN list_inner_product(qc,qc) = 0
         |           OR list_inner_product(cc,cc) = 0 THEN -2.0
         |         ELSE list_inner_product(qc,cc)
         |           / (sqrt(list_inner_product(qc,qc))
         |              * sqrt(list_inner_product(cc,cc))) END AS qsim
         |  FROM cand),
         |itop AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY qsim DESC, vec_id) AS rk FROM sc2) t WHERE rk <= 10),
         |btop AS (SELECT qid, vec_id FROM (
         |    SELECT qq2.qid, z.vec_id, row_number() OVER (PARTITION BY qq2.qid
         |      ORDER BY CASE WHEN list_inner_product(qq2.qc,qq2.qc) = 0
         |          OR list_inner_product(z.q,z.q) = 0 THEN -2.0
         |        ELSE list_inner_product(qq2.qc,z.q)
         |          / (sqrt(list_inner_product(qq2.qc,qq2.qc))
         |             * sqrt(list_inner_product(z.q,z.q))) END DESC,
         |        z.vec_id) AS rk
         |    FROM qq2, qz z WHERE z.vec_id <> qq2.qid) t WHERE rk <= 10),
         |ov AS (SELECT i.qid, COUNT(*) AS o FROM itop i JOIN btop b
         |    ON i.qid = b.qid AND i.vec_id = b.vec_id GROUP BY i.qid)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(COALESCE(o.o, 0)) AS BIGINT) AS overlap_sum,
         |  CAST(MIN(COALESCE(o.o, 0)) AS BIGINT) AS overlap_min,
         |  true AS files_pruned
         |FROM (SELECT DISTINCT qid FROM qq2) q LEFT JOIN ov o USING (qid)""".stripMargin,

    // Cell-exact count-min replay: same md5("<r>|<token>") % width cells,
    // min-over-depth estimates, exact counts joined for the overcount.
    "q129_countmin_heavyhitters" ->
      raw"""WITH tk AS (SELECT unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS tok
           |  FROM documents),
           |rr AS (SELECT unnest(range(0, 4)) AS r),
           |cells AS (SELECT rr.r,
           |    CAST((('0x' || substr(md5(CAST(rr.r AS VARCHAR) || '|' || tok),
           |      1, 12))::BIGINT % 512) AS INT) AS c, COUNT(*) AS cnt
           |  FROM tk, rr GROUP BY 1, 2),
           |v AS (SELECT DISTINCT tok FROM tk),
           |probe AS (SELECT v.tok AS value, rr.r,
           |    CAST((('0x' || substr(md5(CAST(rr.r AS VARCHAR) || '|' || v.tok),
           |      1, 12))::BIGINT % 512) AS INT) AS c
           |  FROM v, rr),
           |es AS (SELECT value, MIN(cnt) AS est
           |  FROM probe JOIN cells USING (r, c) GROUP BY value),
           |ex AS (SELECT tok AS value, COUNT(*) AS exact FROM tk GROUP BY tok)
           |SELECT value, CAST(exact AS BIGINT) AS exact,
           |  CAST(est AS BIGINT) AS est,
           |  CAST(est - exact AS BIGINT) AS overcount,
           |  est >= exact AS never_under
           |FROM es JOIN ex USING (value)
           |ORDER BY exact DESC, value LIMIT 15""".stripMargin,

    // Source-of-truth aggregate — equality with the Spark side (which
    // ran over the JSONL round trip) proves lossless ingest.
    "q130_jsonl_ingest" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
        |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Exact null counts + COUNT(DISTINCT) for the sub-k columns; the
    // KMV estimate re-derived from the same 48-bit md5 prefixes for
    // doc_id (k=256, estimate = 255*2^48 // h_256).
    "q131_analyze_stats" ->
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
        |FROM stats ORDER BY col_name""".stripMargin,

    // From-scratch index over ALL docs — equality (checksum + search
    // results) proves the incremental appends reconstructed it exactly.
    "q132_incremental_index" ->
      raw"""WITH tk AS (SELECT doc_id, unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS token
           |  FROM documents),
           |idx AS (SELECT token, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
           |chk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_postings,
           |  CAST(SUM(('0x' || substr(md5(token || ':'
           |      || CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)),
           |    1, 12))::BIGINT % 1000000) AS BIGINT) AS index_checksum
           |  FROM idx),
           |hits AS (SELECT doc_id, COUNT(DISTINCT token) AS nt,
           |    SUM(tf) AS score
           |  FROM idx WHERE token IN ('spark', 'table') GROUP BY doc_id),
           |top AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM hits
           |  WHERE nt = 2 ORDER BY score DESC, doc_id LIMIT 10)
           |SELECT t.doc_id, t.score, c.n_postings, c.index_checksum,
           |  true AS both_incremental
           |FROM top t, chk c ORDER BY t.score DESC, t.doc_id""".stripMargin,

    // The delete view in plain SQL: positional deletes masked every
    // 'error' row present at delete time (nothing appended after), the
    // equality deletes masked event_id % 13 = 0 in the base files.
    "q133_pos_delete_sql" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS pos_scan_columnar
        |FROM events
        |WHERE event_type <> 'error' AND event_id % 13 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Full tokenizer replay: vocab = corpus chars + top-64 multi-char
    // substrings by (Σ word-freq weight DESC, piece ASC); encoding = the
    // greedy longest-match recursion over DISTINCT words, joined back to
    // word occurrences. Bit-identical counts prove the Spark kernel and
    // the SQL recursion implement the same tokenizer.
    "q134_subword_tokens" ->
      raw"""WITH RECURSIVE
           |occ AS (SELECT source, unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS w
           |  FROM documents),
           |wf AS (SELECT w, COUNT(*) AS freq FROM occ GROUP BY w),
           |pieces0 AS (SELECT freq, unnest(flatten(
           |    [ [ w[s:s+l-1] for s in range(1, length(w)-l+2) ]
           |      for l in range(1, 6) ])) AS piece FROM wf),
           |chars AS (SELECT DISTINCT piece FROM pieces0 WHERE length(piece) = 1),
           |multi AS (SELECT piece FROM (
           |  SELECT piece, SUM(freq) AS weight FROM pieces0
           |  WHERE length(piece) >= 2 GROUP BY piece
           |  ORDER BY weight DESC, piece LIMIT 64)),
           |vocab AS (SELECT DISTINCT piece FROM (
           |  SELECT piece FROM chars UNION ALL SELECT piece FROM multi)),
           |dw AS (SELECT DISTINCT w FROM occ),
           |st AS (
           |  SELECT w, 1 AS pos, 0 AS cnt FROM dw
           |  UNION ALL
           |  SELECT w,
           |    pos + coalesce((SELECT max(length(v.piece)) FROM vocab v
           |                    WHERE v.piece = w[pos:pos+length(v.piece)-1]), 1),
           |    cnt + 1
           |  FROM st WHERE pos <= length(w)),
           |wcnt AS (SELECT w, cnt FROM st WHERE pos = length(w) + 1),
           |agg AS (SELECT o.source, COUNT(*) AS ws_occ, SUM(c.cnt) AS sw
           |  FROM occ o JOIN wcnt c USING (w) GROUP BY o.source),
           |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           |  FROM documents GROUP BY source),
           |vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           |  CAST(SUM(('0x' || substr(md5(piece), 1, 12))::BIGINT % 1000000)
           |    AS BIGINT) AS vocab_checksum FROM vocab)
           |SELECT n.source, n.n_docs,
           |  CAST(coalesce(a.ws_occ, 0) AS BIGINT) AS ws_tokens,
           |  CAST(coalesce(a.sw, 0) AS BIGINT) AS subword_tokens,
           |  v.vocab_size, v.vocab_checksum
           |FROM nd n LEFT JOIN agg a USING (source), vs v
           |ORDER BY n.source""".stripMargin,

    // Same pinned-association arithmetic as the Spark side: idf =
    // ((n-df)+0.5)/(df+0.5); term = idf * (tf*(1.2+1.0)) /
    // (tf + 1.2*((1.0-0.75) + 0.75*(dl/avgdl))); score = p0+p1+p2 in
    // literal term order. Bit-identical doubles.
    "q135_bm25_search" ->
      raw"""WITH tk AS (SELECT doc_id, unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS token
           |  FROM documents),
           |idx AS (SELECT token, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
           |dl AS (SELECT doc_id, SUM(tf) AS dl FROM idx GROUP BY doc_id),
           |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
           |dft AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM idx
           |  WHERE token IN ('spark', 'table', 'data') GROUP BY token),
           |s AS (SELECT i.doc_id, i.token,
           |  (((CAST(c.n AS DOUBLE) - CAST(d.df AS DOUBLE)) + 0.5)
           |     / (CAST(d.df AS DOUBLE) + 0.5))
           |    * (CAST(i.tf AS DOUBLE) * (1.2 + 1.0))
           |    / (CAST(i.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
           |        (CAST(l.dl AS DOUBLE)
           |          / (CAST(c.tot AS DOUBLE) / CAST(c.n AS DOUBLE))))) AS sc
           |  FROM idx i JOIN dft d USING (token) JOIN dl l USING (doc_id), c
           |  WHERE i.token IN ('spark', 'table', 'data')),
           |p AS (SELECT doc_id,
           |  SUM(CASE WHEN token = 'spark' THEN sc END) AS p0,
           |  SUM(CASE WHEN token = 'table' THEN sc END) AS p1,
           |  SUM(CASE WHEN token = 'data' THEN sc END) AS p2
           |  FROM s GROUP BY doc_id)
           |SELECT p.doc_id,
           |  coalesce(p0, 0.0) + coalesce(p1, 0.0) + coalesce(p2, 0.0) AS score,
           |  CAST(l.dl AS BIGINT) AS doc_len
           |FROM p JOIN dl l USING (doc_id)
           |ORDER BY score DESC, p.doc_id LIMIT 15""".stripMargin,

    // q134's recursive vocab + greedy-match replay, extended per-DOC and
    // fed into q69's packing SQL: subword-budgeted contiguous fill.
    "q136_subword_packing" ->
      raw"""WITH RECURSIVE
           |occ AS (SELECT doc_id, unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS w
           |  FROM documents),
           |wf AS (SELECT w, COUNT(*) AS freq FROM occ GROUP BY w),
           |pieces0 AS (SELECT freq, unnest(flatten(
           |    [ [ w[s:s+l-1] for s in range(1, length(w)-l+2) ]
           |      for l in range(1, 6) ])) AS piece FROM wf),
           |chars AS (SELECT DISTINCT piece FROM pieces0 WHERE length(piece) = 1),
           |multi AS (SELECT piece FROM (
           |  SELECT piece, SUM(freq) AS weight FROM pieces0
           |  WHERE length(piece) >= 2 GROUP BY piece
           |  ORDER BY weight DESC, piece LIMIT 64)),
           |vocab AS (SELECT DISTINCT piece FROM (
           |  SELECT piece FROM chars UNION ALL SELECT piece FROM multi)),
           |dw AS (SELECT DISTINCT w FROM occ),
           |st AS (
           |  SELECT w, 1 AS pos, 0 AS cnt FROM dw
           |  UNION ALL
           |  SELECT w,
           |    pos + coalesce((SELECT max(length(v.piece)) FROM vocab v
           |                    WHERE v.piece = w[pos:pos+length(v.piece)-1]), 1),
           |    cnt + 1
           |  FROM st WHERE pos <= length(w)),
           |wcnt AS (SELECT w, cnt FROM st WHERE pos = length(w) + 1),
           |persum AS (SELECT o.doc_id, SUM(c.cnt) AS sw
           |  FROM occ o JOIN wcnt c USING (w) GROUP BY o.doc_id),
           |doctok AS (SELECT d.doc_id, md5(CAST(d.doc_id AS VARCHAR)) AS ord,
           |  CAST(coalesce(p.sw, 0) AS BIGINT) AS n_tokens
           |  FROM documents d LEFT JOIN persum p USING (doc_id)),
           |cum AS (SELECT doc_id, n_tokens,
           |  COALESCE(SUM(n_tokens) OVER (ORDER BY ord, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           |  FROM doctok)
           |SELECT CAST(off // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs,
           |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
           |FROM cum GROUP BY bin ORDER BY bin""".stripMargin,

    // The composed curation chain replayed stage by stage: q70's gate
    // CTEs verbatim, q30's min-id-per-fingerprint, q65's shingle-pair +
    // reachability clustering restricted to the exact-dedup survivors,
    // q66's eval-8-gram overlap against the post-dedup set, q103's
    // per-domain running-offset budget, q76's md5-order shard ranking.
    "q137_pipeline_e2e" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 97 <> 0),
        |f AS (
        |  SELECT doc_id, source, text, t,
        |    len(t) AS nt, len(list_distinct(t)) AS nd,
        |    md5(array_to_string(t, ' ')) AS fp,
        |    len(list_intersect(t, ['the','a','and','of','to','in','is','on','for','with'])) AS s_en,
        |    len(list_intersect(t, ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS s_de,
        |    len(list_intersect(t, ['le','la','les','et','est','une','dans','pour','que','au'])) AS s_fr,
        |    len(list_intersect(t, ['el','los','las','y','es','una','por','con','para','como'])) AS s_es,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS atl,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS swr,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS nr
        |  FROM e),
        |g AS (
        |  SELECT *,
        |    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_guess,
        |    CASE WHEN nt < 5 THEN 0.0 ELSE
        |      1.0 - abs(atl - 5.0) / 10.0 - nr
        |        + CASE WHEN swr BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END
        |    END AS q
        |  FROM f),
        |gated AS (
        |  SELECT doc_id, source, t, nt, fp FROM g
        |  WHERE lang_guess = 'en' AND q > 0.3 AND nt > 0
        |    AND CAST(nd AS DOUBLE) / nt >= 0.55),
        |ex AS (
        |  SELECT doc_id, source, t, nt FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM gated) WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM ex),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |prs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
        |          UNION SELECT id_b, id_a FROM prs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
        |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        |uniq AS (
        |  SELECT doc_id, source, t, nt FROM ex
        |  WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)),
        |ev8 AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 7, 1) + 1),
        |    i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM (SELECT list_filter(string_split_regex(lower(text), '\W+'),
        |                x -> x <> '') AS t
        |        FROM documents WHERE doc_id % 97 = 0)),
        |tr8 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 7, 1) + 1),
        |    i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM uniq),
        |clean AS (
        |  SELECT doc_id, source, nt FROM uniq
        |  WHERE doc_id NOT IN (
        |    SELECT DISTINCT tr8.doc_id FROM tr8 JOIN ev8 ON tr8.s = ev8.s)),
        |p AS (
        |  SELECT doc_id, source, nt,
        |    COALESCE(SUM(nt) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM clean),
        |selq AS (
        |  SELECT doc_id, nt FROM p
        |  WHERE off < CASE CAST(substring(source, 4) AS INT) % 4
        |    WHEN 0 THEN 200 WHEN 1 THEN 400 WHEN 2 THEN 600 ELSE 800 END),
        |ranked AS (
        |  SELECT doc_id, nt,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |  FROM selq)
        |SELECT CAST(pos % 8 AS INT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS sum_tokens,
        |  CAST(SUM((pos // 8) * doc_id) AS BIGINT) AS order_checksum
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,

    // q135's BM25 chain and q36's cosine ranking (single query vector),
    // row_number'd into 1-based ranks, full-outer-joined, fused as
    // 1/(60+rank) contributions summed in arm order.
    "q138_hybrid_retrieval" ->
      raw"""WITH tk AS (SELECT doc_id, unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS token
           |  FROM documents),
           |idx AS (SELECT token, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
           |dl AS (SELECT doc_id, SUM(tf) AS dl FROM idx GROUP BY doc_id),
           |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
           |dft AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM idx
           |  WHERE token IN ('spark', 'table', 'data') GROUP BY token),
           |s AS (SELECT i.doc_id, i.token,
           |  (((CAST(c.n AS DOUBLE) - CAST(d.df AS DOUBLE)) + 0.5)
           |     / (CAST(d.df AS DOUBLE) + 0.5))
           |    * (CAST(i.tf AS DOUBLE) * (1.2 + 1.0))
           |    / (CAST(i.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
           |        (CAST(l.dl AS DOUBLE)
           |          / (CAST(c.tot AS DOUBLE) / CAST(c.n AS DOUBLE))))) AS sc
           |  FROM idx i JOIN dft d USING (token) JOIN dl l USING (doc_id), c
           |  WHERE i.token IN ('spark', 'table', 'data')),
           |p AS (SELECT doc_id,
           |  SUM(CASE WHEN token = 'spark' THEN sc END) AS p0,
           |  SUM(CASE WHEN token = 'table' THEN sc END) AS p1,
           |  SUM(CASE WHEN token = 'data' THEN sc END) AS p2
           |  FROM s GROUP BY doc_id),
           |bmr AS (SELECT doc_id,
           |  CAST(row_number() OVER (ORDER BY
           |    coalesce(p0, 0.0) + coalesce(p1, 0.0) + coalesce(p2, 0.0) DESC,
           |    doc_id) AS BIGINT) AS text_rank
           |  FROM p),
           |bm AS (SELECT doc_id, text_rank FROM bmr WHERE text_rank <= 50),
           |vq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id = 0),
           |vr AS (SELECT vec_id AS doc_id,
           |  CAST(row_number() OVER (ORDER BY
           |    list_cosine_similarity(qv, cv) DESC, vec_id) AS BIGINT) AS vec_rank
           |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
           |        FROM embeddings WHERE vec_id <> 0), vq),
           |vv AS (SELECT doc_id, vec_rank FROM vr WHERE vec_rank <= 50),
           |f AS (SELECT coalesce(bm.doc_id, vv.doc_id) AS doc_id,
           |  bm.text_rank, vv.vec_rank,
           |  coalesce(1.0 / (60.0 + CAST(bm.text_rank AS DOUBLE)), 0.0) +
           |  coalesce(1.0 / (60.0 + CAST(vv.vec_rank AS DOUBLE)), 0.0) AS rrf
           |  FROM bm FULL OUTER JOIN vv ON bm.doc_id = vv.doc_id)
           |SELECT doc_id, text_rank, vec_rank, rrf FROM f
           |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin,

    // q38's score replay quantized to the 2^-20 grid + q126's
    // integer-exact quantile, composed: the per-source 3/4-quantile
    // threshold in grid units, then the kept set re-aggregated.
    "q139_adaptive_quality_cutoff" ->
      """WITH feat AS (
        |  SELECT source,
        |    len(t) AS n_tokens,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS avg_token_len,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS stopword_ratio,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS noise_ratio
        |  FROM (SELECT source, text,
        |          list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |        FROM documents) tt),
        |q AS (
        |  SELECT source, n_tokens,
        |    CAST(FLOOR((CASE WHEN n_tokens < 5 THEN 0.0 ELSE
        |      1.0 - abs(avg_token_len - 5.0) / 10.0 - noise_ratio
        |        + CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END
        |    END) * 1048576.0) AS BIGINT) AS score_units
        |  FROM feat),
        |c AS (SELECT source, score_units AS v, COUNT(*) AS c
        |  FROM q GROUP BY 1, 2),
        |w AS (SELECT source, v,
        |    SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n
        |  FROM c),
        |t AS (SELECT source,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS threshold_units,
        |    MAX(n) AS n_total
        |  FROM w GROUP BY source)
        |SELECT q.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(q.n_tokens) AS BIGINT) AS kept_tokens,
        |  CAST(MAX(t.threshold_units) AS BIGINT) AS threshold_units,
        |  CAST(MAX(t.n_total) AS BIGINT) AS n_total
        |FROM q JOIN t ON q.source = t.source
        |WHERE q.score_units >= t.threshold_units
        |GROUP BY q.source ORDER BY q.source""".stripMargin,

    // Pure-arithmetic replay of the image pipeline: the patterned pixel
    // formula, the cellSum·64 > totalSum hash bits, and a direct
    // all-pairs Hamming count — equal to Spark's banded search because
    // ≤3-bit pairs always share a clean 16-bit band (pigeonhole).
    "q140_image_neardup" ->
      """WITH imgs AS (SELECT doc_id AS media_id, doc_id % 30 AS f,
        |    (doc_id // 30) % 64 AS pc
        |  FROM documents WHERE doc_id % 3 = 0),
        |cells AS (SELECT media_id, cs.c,
        |    CASE WHEN cs.c = pc THEN ((f * 73 + cs.c) * 131 % 256 + 96) % 256
        |         ELSE (f * 73 + cs.c) * 131 % 256 END AS g
        |  FROM imgs, (SELECT unnest(range(0, 64)) AS c) cs),
        |sums AS (SELECT media_id, SUM(g) AS total FROM cells GROUP BY 1),
        |bits AS (SELECT c.media_id, c.c,
        |    CASE WHEN c.g * 64 > s.total THEN 1 ELSE 0 END AS b
        |  FROM cells c JOIN sums s USING (media_id)),
        |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
        |    SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS hamming
        |  FROM bits a JOIN bits b ON a.c = b.c AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT CAST(hamming AS INT) AS hamming,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(id_a + id_b) AS BIGINT) AS id_checksum
        |FROM pairs WHERE hamming <= 3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // Identical arithmetic to q140's replay — the unsigned top byte of
    // each PCM sample round-trips losslessly, so the pixel formula IS
    // the sample formula; only the id stripe (audio rows) changes.
    "q141_audio_neardup" ->
      """WITH auds AS (SELECT doc_id AS media_id, doc_id % 30 AS f,
        |    (doc_id // 30) % 64 AS pc
        |  FROM documents WHERE doc_id % 3 = 1),
        |cells AS (SELECT media_id, cs.c,
        |    CASE WHEN cs.c = pc THEN ((f * 73 + cs.c) * 131 % 256 + 96) % 256
        |         ELSE (f * 73 + cs.c) * 131 % 256 END AS g
        |  FROM auds, (SELECT unnest(range(0, 64)) AS c) cs),
        |sums AS (SELECT media_id, SUM(g) AS total FROM cells GROUP BY 1),
        |bits AS (SELECT c.media_id, c.c,
        |    CASE WHEN c.g * 64 > s.total THEN 1 ELSE 0 END AS b
        |  FROM cells c JOIN sums s USING (media_id)),
        |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
        |    SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS hamming
        |  FROM bits a JOIN bits b ON a.c = b.c AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT CAST(hamming AS INT) AS hamming,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(id_a + id_b) AS BIGINT) AS id_checksum
        |FROM pairs WHERE hamming <= 3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // sqrt-tempered targets (prefix-sum normalizer in source order; MAX
    // of a monotone positive prefix = the total) + q103's exclusive
    // md5-offset selection.
    "q142_temperature_mixture" ->
      raw"""WITH d AS (SELECT doc_id, source,
           |    len(list_filter(string_split_regex(lower(text), '\W+'),
           |        x -> x <> '')) AS tok
           |  FROM documents),
           |m AS (SELECT source, SUM(tok) AS n FROM d GROUP BY source),
           |s AS (SELECT source, sqrt(CAST(n AS DOUBLE)) AS sh FROM m),
           |cum AS (SELECT source, sh,
           |    SUM(sh) OVER (ORDER BY source
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           |  FROM s),
           |tot AS (SELECT MAX(c) AS t FROM cum),
           |tg AS (SELECT source,
           |    CAST(FLOOR(10000.0 * sh / t) AS BIGINT) AS target
           |  FROM cum, tot),
           |p AS (SELECT doc_id, source, tok,
           |    COALESCE(SUM(tok) OVER (PARTITION BY source
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           |  FROM d)
           |SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(p.tok) AS BIGINT) AS sum_tokens,
           |  CAST(MAX(tg.target) AS BIGINT) AS target
           |FROM p JOIN tg ON p.source = tg.source
           |WHERE p.off < tg.target
           |GROUP BY p.source ORDER BY p.source""".stripMargin,

    // The three-batch admission unrolled: q31's shingle sets, the
    // integer Jaccard gate inter·5 ≥ union·4 against the admitted-so-far
    // set, sizes always from the full per-doc distinct-shingle counts.
    "q143_incremental_neardup_ingest" ->
      raw"""WITH d AS (SELECT doc_id, md5(text) AS f, doc_id % 3 AS batch,
           |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |e AS (SELECT doc_id, batch, t FROM (
           |    SELECT *, row_number() OVER (PARTITION BY batch, f
           |      ORDER BY doc_id) AS rn FROM d) WHERE rn = 1),
           |sh AS (SELECT doc_id, batch, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(t) - 2, 1) + 1),
           |    i -> array_to_string(t[i:i+2], ' ')))) AS s
           |  FROM e),
           |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |a0 AS (SELECT doc_id FROM e WHERE batch = 0),
           |r1 AS (SELECT DISTINCT p.id_b AS doc_id FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
           |    FROM sh a JOIN sh b ON a.s = b.s
           |    WHERE a.batch = 0 AND b.batch = 1
           |    GROUP BY 1, 2) p
           |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
           |  WHERE inter * 5 >= (x.n + y.n - inter) * 4),
           |a1 AS (SELECT doc_id FROM e WHERE batch = 1
           |  AND doc_id NOT IN (SELECT doc_id FROM r1)),
           |adm01 AS (SELECT doc_id FROM a0 UNION ALL SELECT doc_id FROM a1),
           |r2 AS (SELECT DISTINCT p.id_b AS doc_id FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
           |    FROM sh a JOIN sh b ON a.s = b.s
           |    WHERE b.batch = 2 AND a.doc_id IN (SELECT doc_id FROM adm01)
           |    GROUP BY 1, 2) p
           |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
           |  WHERE inter * 5 >= (x.n + y.n - inter) * 4),
           |a2 AS (SELECT doc_id FROM e WHERE batch = 2
           |  AND doc_id NOT IN (SELECT doc_id FROM r2)),
           |summ AS (
           |  SELECT 0 AS batch,
           |    (SELECT COUNT(*) FROM e WHERE batch = 0) AS n_in,
           |    0 AS n_rejected, (SELECT COUNT(*) FROM a0) AS adm
           |  UNION ALL SELECT 1,
           |    (SELECT COUNT(*) FROM e WHERE batch = 1),
           |    (SELECT COUNT(*) FROM r1), (SELECT COUNT(*) FROM a1)
           |  UNION ALL SELECT 2,
           |    (SELECT COUNT(*) FROM e WHERE batch = 2),
           |    (SELECT COUNT(*) FROM r2), (SELECT COUNT(*) FROM a2))
           |SELECT CAST(batch AS BIGINT) AS batch, CAST(n_in AS BIGINT) AS n_in,
           |  CAST(n_rejected AS BIGINT) AS n_rejected,
           |  CAST(SUM(adm) OVER (ORDER BY batch
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |    AS corpus_rows
           |FROM summ ORDER BY batch""".stripMargin,

    "q144_pq_ann" ->
      s"""WITH ${pqCtes(m = 4, ksub = 16, iters = 2, dim = 64, qid = 0)}
         |SELECT vec_id, pq_dist,
         |  CAST(row_number() OVER (ORDER BY pq_dist, vec_id) AS BIGINT) AS rk
         |FROM scs WHERE vec_id <> 0
         |ORDER BY pq_dist, vec_id LIMIT 10""".stripMargin,

    // Replays Dsir exactly: same md5-28 bucket, smoothed count-ratio
    // weights via the SAME IEEE double divide, length-normalized floor
    // score, exact per-source 3/4-quantile gate.
    "q145_dsir_selection" -> {
      def nib(k: Int) = {
        val a = s"ascii(substr(md5(t), ${k + 1}, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      val bkt = "CAST(" +
        (0 until 7).map(k => s"${nib(k)} * ${1L << (4 * k)}").mkString(" + ") +
        " AS BIGINT) % 1024"
      raw"""WITH tk AS (SELECT doc_id, source, lang,
           |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |tok AS (SELECT doc_id, tgt, $bkt AS b FROM (
           |    SELECT doc_id, lang = 'en' AS tgt, unnest(t) AS t FROM tk)),
           |cnt AS (SELECT b, COUNT(*) AS raw,
           |    SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt
           |  FROM tok GROUP BY b),
           |w AS (SELECT r.b,
           |    COALESCE(CAST(floor(((c.tgt + 1) * 1000000.0)
           |      / CAST(c.raw + 1 AS DOUBLE)) AS BIGINT), 1000000) AS w
           |  FROM (SELECT CAST(range AS BIGINT) AS b FROM range(1024)) r
           |  LEFT JOIN cnt c ON r.b = c.b),
           |ds AS (SELECT k.doc_id, SUM(w.w) AS s, COUNT(*) AS n
           |  FROM tok k JOIN w ON k.b = w.b GROUP BY k.doc_id),
           |sc AS (SELECT tk.doc_id, tk.source,
           |    COALESCE(CAST(floor(CAST(ds.s AS DOUBLE) / ds.n) AS BIGINT), 0)
           |      AS dsir_score
           |  FROM tk LEFT JOIN ds ON tk.doc_id = ds.doc_id),
           |q AS (SELECT source,
           |    MIN(CASE WHEN cum * 4 >= n * 3 THEN dsir_score END) AS th,
           |    CAST(MAX(n) AS BIGINT) AS group_rows
           |  FROM (SELECT source, dsir_score,
           |      SUM(c) OVER (PARTITION BY source ORDER BY dsir_score) AS cum,
           |      SUM(c) OVER (PARTITION BY source) AS n
           |    FROM (SELECT source, dsir_score, COUNT(*) AS c FROM sc
           |          GROUP BY 1, 2) g) cg
           |  GROUP BY source)
           |SELECT sc.doc_id, sc.source, sc.dsir_score,
           |  q.th AS threshold, q.group_rows
           |FROM sc JOIN q ON sc.source = q.source
           |WHERE sc.dsir_score >= q.th
           |ORDER BY sc.doc_id""".stripMargin
    },

    // The committed transaction's pair only — the abandoned staged append
    // must contribute nothing.
    "q146_multi_table_txn" ->
      """SELECT c_mktsegment, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 4 = 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Both tables reflect the purge — orders by custkey, lineitem by the
    // purged customers' orderkeys.
    "q147_txn_cross_purge" ->
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
        |    AS items_qty""".stripMargin,

    // Plain BETWEEN join over the same band table — the binned equi-join
    // must produce the identical pair set.
    "q148_range_join" ->
      """WITH b AS (SELECT CAST(range AS BIGINT) AS band_id,
        |    range * 50000 AS lo, range * 50000 + 99999 AS hi
        |  FROM range(210)),
        |p AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT) AS cents, l_quantity FROM lineitem)
        |SELECT band_id, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM p JOIN b ON p.cents BETWEEN b.lo AND b.hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,

    // Integer cross-multiply replay of weightedBernoulli: 28-bit md5
    // prefix hash, keep iff h·W < k·w·2^28.
    "q149_weighted_sample" ->
      """WITH tw AS (SELECT SUM(CAST(n_chars AS BIGINT)) AS w FROM documents)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents CROSS JOIN tw
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
        |    * tw.w < 400 * CAST(n_chars AS BIGINT) * 268435456
        |ORDER BY doc_id""".stripMargin,

    // Floor-division replay of systematicPps: md5-ordered cumulative
    // weight, select rows whose interval contains a multiple of W/k.
    "q150_systematic_pps" ->
      """WITH c AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w,
        |    SUM(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum,
        |    SUM(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang) AS tw
        |  FROM documents)
        |SELECT lang, doc_id FROM c
        |WHERE (cum * 30) // tw > ((cum - w) * 30) // tw
        |ORDER BY lang, doc_id""".stripMargin,

    // Unrolled 5-round fixed-point PageRank over the bidirectional
    // customer↔supplier graph — every round a join + floor-division
    // aggregate, identical to the engine's iteration.
    "q151_link_authority" -> graft.ext.LinkAnalysis.pageRankOracleSql(
      """SELECT src, dst, COUNT(*) AS w FROM (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 's' || CAST(l_suppkey AS VARCHAR),
        |         'c' || CAST(o_custkey AS VARCHAR)
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) u
        |GROUP BY src, dst""".stripMargin, iterations = 5),

    // Bottom-k md5 sample, then the integer cross-multiplied discrete
    // quantile over the sample — replays sampleQuantiles bit-for-bit.
    "q152_sample_quantiles" ->
      """WITH s AS (SELECT event_type, value FROM (
        |    SELECT event_type, value, row_number() OVER (
        |      PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |    FROM events) t WHERE rn <= 200),
        |c AS (SELECT event_type, value, COUNT(*) AS cnt
        |  FROM s GROUP BY event_type, value),
        |cc AS (SELECT event_type, value,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY value) AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n FROM c)
        |SELECT event_type,
        |  MIN(CASE WHEN cum * 2 >= n * 1 THEN value END) AS p50,
        |  MIN(CASE WHEN cum * 10 >= n * 9 THEN value END) AS p90,
        |  MIN(CASE WHEN cum * 100 >= n * 99 THEN value END) AS p99,
        |  CAST(MAX(n) AS BIGINT) AS sample_rows
        |FROM cc GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The four positional predicates (one subsumed), replayed as plain
    // filters — the consolidated delete-vector read must match.
    "q153_delete_vectors" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS consolidated
        |FROM events
        |WHERE event_type <> 'error' AND event_id % 500 <> 3
        |  AND NOT (value < -0.9)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The window-rank formulation the aggregator replaces — identical
    // rows, (score DESC, id ASC) total order.
    "q154_grouped_topk" ->
      """SELECT source, lang, rank, doc_id, n_chars FROM (
        |  SELECT source, lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(row_number() OVER (PARTITION BY source, lang
        |      ORDER BY n_chars DESC, doc_id) AS INT) AS rank
        |  FROM documents) t
        |WHERE rank <= 5 ORDER BY source, lang, rank""".stripMargin,

    // Register-exact HLL replay: same md5 bits, same integer harmonic
    // sum, same fixed-point alpha and linear-counting table.
    "q155_hll_distinct" ->
      s"""WITH src AS (SELECT event_type, user_id AS v FROM events),
         |${graft.ext.Sketches.hllOracleSql(Seq("event_type"))},
         |e AS (SELECT event_type,
         |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
         |  FROM events GROUP BY event_type)
         |SELECT h.event_type, approx_distinct, exact_distinct,
         |  abs(approx_distinct - exact_distinct) * 5 <= exact_distinct
         |    AS within_20pct
         |FROM hll h JOIN e USING (event_type)
         |ORDER BY event_type""".stripMargin,

    // Same aggregate straight off the parquet fixture — only a lossless
    // ORC roundtrip matches it.
    "q156_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  MAX(l_shipdate) AS max_shipdate
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // The deterministic corruption rule replayed as a filter: orderkeys
    // divisible by 997 quarantine, the rest aggregate by status.
    "q157_csv_quarantine" ->
      """SELECT o_orderstatus AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100 )
        |    AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderkey % 997 <> 0
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'QUARANTINED', COUNT(*), CAST(0 AS BIGINT)
        |FROM orders WHERE o_orderkey % 997 = 0
        |ORDER BY bucket""".stripMargin,

    // Batch replay of the streamed left-outer interval join — the
    // watermark flush must surface exactly the unmatched lefts the
    // batch LEFT JOIN produces.
    "q158_stream_outer_join" ->
      """SELECT l.event_id, l.user_id,
        |  r.event_type AS r_event_type, r.value AS r_value
        |FROM (SELECT * FROM events WHERE event_id % 10 = 0) l
        |LEFT JOIN (SELECT * FROM events WHERE event_id % 30 = 5) r
        |  ON l.user_id = r.user_id
        |  AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        |ORDER BY l.event_id, r_event_type""".stripMargin,

    // The variant paths replayed relationally: tags[0] = event_type,
    // user.tier = user_id % 5, mils = event_id % 1000, missing ⇒ NULL
    // for every row.
    "q159_variant_column" ->
      """SELECT event_type AS tag0, user_id % 5 AS tier,
        |  COUNT(*) AS n,
        |  CAST(SUM(event_id % 1000) AS BIGINT) AS sum_mils,
        |  COUNT(*) AS n_missing
        |FROM events GROUP BY event_type, user_id % 5
        |ORDER BY tag0, tier""".stripMargin,

    // Post-merge state replayed relationally: every row keeps its base
    // image, rows with doc_id % 10 = 0 gain quality = doc_id % 97,
    // shifted inserts append with their own score, everyone else NULL.
    "q160_merge_schema_evolution" ->
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
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Per-key generate_series grid + IGNORE NULLS running last — the
    // SQL statement of the gap-fill contract.
    "q161_gapfill_locf" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id % 50 = 0),
        |obs AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    COUNT(*) AS n, SUM(event_id % 1000) AS s
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT user_id, MIN(date_trunc('hour', ts)) AS lo,
        |    MAX(date_trunc('hour', ts)) AS hi FROM ev GROUP BY 1),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |  FROM bounds)
        |SELECT g.user_id, g.bucket, COALESCE(o.n, 0) AS n_events,
        |  CAST(last_value(o.s IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS v_locf
        |FROM grid g LEFT JOIN obs o USING (user_id, bucket)
        |ORDER BY user_id, bucket""".stripMargin,

    // Lineage replay: kept rows (id = doc_id, seq 1), updates (id kept,
    // seq 2, n_chars+1), inserts (id = table max + delta row_number
    // with update-row gaps, seq 2).
    "q162_row_lineage" ->
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
        |FROM fin GROUP BY lang, seq ORDER BY lang, seq""".stripMargin,

    // The pivot matrix as conditional aggregation.
    "q163_pivot" ->
      """SELECT source,
        |  CAST(SUM(CASE WHEN lang = 'de' THEN n_chars END) AS BIGINT) AS de,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN n_chars END) AS BIGINT) AS en,
        |  CAST(SUM(CASE WHEN lang = 'es' THEN n_chars END) AS BIGINT) AS es,
        |  CAST(SUM(CASE WHEN lang = 'fr' THEN n_chars END) AS BIGINT) AS fr,
        |  CAST(SUM(CASE WHEN lang = 'zh' THEN n_chars END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Standard GROUPING SETS + GROUPING flags.
    "q164_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,

    "q165_personalized_pagerank" ->
      graft.ext.LinkAnalysis.personalizedPageRankOracleSql(
        """SELECT src, dst, COUNT(*) AS w FROM (
          |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
          |         's' || CAST(l_suppkey AS VARCHAR) AS dst
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  UNION ALL
          |  SELECT 's' || CAST(l_suppkey AS VARCHAR),
          |         'c' || CAST(o_custkey AS VARCHAR)
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) u
          |GROUP BY src, dst""".stripMargin,
        """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
          |FROM orders WHERE o_custkey % 100 = 0""".stripMargin,
        iterations = 3),

    "q166_label_propagation" ->
      graft.ext.LinkAnalysis.labelPropagationOracleSql(
        """SELECT src, dst, COUNT(*) AS w FROM (
          |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
          |         's' || CAST(l_suppkey AS VARCHAR) AS dst
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  UNION ALL
          |  SELECT 's' || CAST(l_suppkey AS VARCHAR),
          |         'c' || CAST(o_custkey AS VARCHAR)
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) u
          |GROUP BY src, dst""".stripMargin,
        iterations = 3),

    // The melt roundtrip equals the plain long-form GROUP BY.
    "q167_unpivot" ->
      """SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,

    // The incrementally-maintained join view must equal the from-scratch
    // join aggregate.
    "q168_join_matview" ->
      """SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_qty,
        |  true AS incremental
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY priority""".stripMargin,

    // The per-batch lookup join, replayed as one batch join.
    "q169_stream_static_join" ->
      """SELECT c_mktsegment AS segment, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_id
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_id % 5 = 0
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin,

    "q170_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,

    // The pruned scan must return exactly the full-table top-25.
    "q171_topk_pushdown" ->
      """SELECT o_orderkey, o_totalprice AS totalprice,
        |  o_orderpriority AS priority, true AS files_pruned
        |FROM orders
        |ORDER BY totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    // Plain inclusive-overlap join over the same band table — the binned
    // equi-join must produce the identical pair set.
    "q172_interval_overlap_join" ->
      """WITH b AS (SELECT CAST(range AS BIGINT) AS band_id,
        |    range * 50000 AS lo, range * 50000 + 99999 AS hi
        |  FROM range(210)),
        |l AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT) AS llo,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    + 25000 AS lhi,
        |  l_quantity FROM lineitem)
        |SELECT band_id, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM l JOIN b ON l.llo <= b.hi AND b.lo <= l.lhi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,

    "q173_trained_classifier" -> perceptronOracleSql(3),

    // Both tables at the cut = base (%4=0) plus the committed txn's
    // appends (%4=1); the abandoned staged txn (%4=2) invisible.
    "q174_consistent_cut" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_qty,
        |  true AS cut_consistent
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 4 <= 1 AND l_orderkey % 4 <= 1
        |GROUP BY priority ORDER BY priority""".stripMargin,

    // Pre- and post-rename rows aggregated under the renamed column.
    "q175_column_mapping" ->
      """SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  true AS mapped
        |FROM orders WHERE o_orderkey % 3 <= 1
        |GROUP BY priority ORDER BY priority""".stripMargin,

    // Integer replay of the epoch rule: copies = target//mass extra-one
    // when the exclusive md5-order offset < target mod mass.
    "q176_upsample_mixture" -> {
      val targetRows = mixingParts.toSeq.sortBy(_._1).map { case (d, p) =>
        s"('$d', ${p * 100000L})"
      }.mkString(", ")
      s"""WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS tok
         |    FROM documents),
         |o AS (SELECT doc_id, source, tok,
         |    SUM(tok) OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - tok AS off
         |  FROM d),
         |m AS (SELECT source, SUM(tok) AS mass FROM d GROUP BY source),
         |t AS (SELECT * FROM (VALUES $targetRows) AS t(source, target)),
         |c AS (SELECT o.source, o.tok,
         |    (t.target // m.mass) + CASE WHEN o.off < (t.target % m.mass)
         |      THEN 1 ELSE 0 END AS copies
         |  FROM o JOIN m USING (source) JOIN t USING (source)
         |  WHERE m.mass > 0),
         |e AS (SELECT source, CAST(r.range AS BIGINT) AS epoch, tok
         |  FROM c JOIN range(256) r ON r.range < c.copies)
         |SELECT source, epoch, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tok) AS BIGINT) AS sum_tokens
         |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // Batch FULL JOIN twin of the watermark-flushed streaming replay.
    "q177_stream_full_outer_join" ->
      """SELECT l.event_id AS l_event_id, r.event_id AS r_event_id,
        |  COALESCE(l.user_id, r.user_id) AS user_id,
        |  r.event_type AS r_event_type
        |FROM (SELECT * FROM events WHERE event_id % 10 = 0) l
        |FULL JOIN (SELECT * FROM events WHERE event_id % 30 = 5) r
        |  ON l.user_id = r.user_id
        |  AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        |ORDER BY user_id, l_event_id, r_event_id""".stripMargin,

    // Merged stats replay: nulls/rows exact over the union, NDV = the
    // full-table KMV (register merge is exact), max_freq = the sum of the
    // base (doc_id%3=0) and delta (doc_id%3<>0) parts' maxima.
    "q178_incremental_analyze" ->
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
        |FROM stats ORDER BY col_name""".stripMargin,

    // q65's component CTE, then one winner per component by
    // (n_chars DESC, id); untouched docs pass through.
    "q179_neardup_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |prs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
        |          UNION SELECT id_b, id_a FROM prs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
        |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        |win AS (SELECT id FROM (
        |    SELECT c.id, row_number() OVER (PARTITION BY c.component
        |      ORDER BY d.n_chars DESC, c.id) AS rk
        |    FROM comp c JOIN documents d ON c.id = d.doc_id) t
        |  WHERE rk = 1),
        |kept AS (SELECT doc_id FROM documents
        |    WHERE doc_id NOT IN (SELECT id FROM comp)
        |  UNION ALL SELECT id FROM win)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
        |FROM kept k JOIN documents d ON k.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The identical recursive fixpoint, DuckDB dialect (`//` = DIV).
    "q180_recursive_cte" ->
      """WITH RECURSIVE chain (id, root, depth, bal) AS (
        |  SELECT c_custkey, c_custkey, 0, CAST(c_acctbal AS DECIMAL(18,2))
        |  FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT e.c_custkey, ch.root, ch.depth + 1,
        |         CAST(e.c_acctbal AS DECIMAL(18,2))
        |  FROM customer e JOIN chain ch ON e.c_custkey // 10 = ch.id
        |  WHERE e.c_custkey >= 10
        |)
        |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
        |  CAST(SUM(bal) AS DOUBLE) AS total_bal
        |FROM chain GROUP BY depth ORDER BY depth""".stripMargin,

    // Pre-widen rows as written plus post-widen rows offset past the
    // int range, aggregated under the widened types.
    "q181_type_widening" ->
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
        |FROM t GROUP BY priority ORDER BY priority""".stripMargin,

    // Pre-column rows carry the pinned EXISTS_DEFAULT 'legacy'; rows
    // inserted after SET DEFAULT carry the moved CURRENT_DEFAULT 'online'.
    "q182_default_columns" ->
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
        |FROM t GROUP BY chan, priority ORDER BY chan, priority""".stripMargin,

    // The replaced table's aggregate plus the pre-replace epoch's rollup
    // (graft reads it via VERSION AS OF 1; the sources never changed).
    "q183_replace_table" ->
      """WITH v2 AS (
        |  SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1),
        |v1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_v1,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_v1
        |  FROM orders)
        |SELECT priority, n, total, n_v1, total_v1, true AS atomic_ops
        |FROM v2 CROSS JOIN v1 ORDER BY priority""".stripMargin,

    // Batch restatement of the per-user stateful profiles: running counts
    // and exact-cents sums fold to plain aggregates; the MapState argmax
    // is count DESC, type name ASC.
    "q184_transform_with_state" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_id % 7 = 0),
        |tot AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS DOUBLE) AS total_value
        |  FROM ev GROUP BY 1),
        |bt AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |top AS (
        |  SELECT user_id, event_type AS top_type, c AS top_n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY c DESC, event_type ASC) AS rn
        |  FROM bt)
        |SELECT t.user_id, t.n, t.total_value, p.top_type, p.top_n
        |FROM tot t JOIN top p ON t.user_id = p.user_id AND p.rn = 1
        |ORDER BY t.user_id""".stripMargin,

    // Identity allocation is invariant-checked Spark-side (values are
    // allocation order); the oracle pins the deterministic counts.
    "q185_identity_columns" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  true AS ids_unique, true AS min_at_or_above_start,
        |  true AS step_aligned, true AS batches_disjoint,
        |  true AS always_rejected
        |FROM orders WHERE o_orderkey % 5 IN (0, 1)""".stripMargin,

    // The cluster-keyed range scan restated over raw lineitem.
    "q190_cluster_by" ->
      """SELECT l_returnflag AS rf, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  true AS ranges_disjoint, true AS files_pruned
        |FROM lineitem WHERE l_orderkey BETWEEN 10000 AND 20000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q65's recursive component replay, extended: units are
    // COALESCE(component, doc_id), the side is the first md5 byte of the
    // unit id (< 205 → train, the 51/256 eval share).
    "q189_leakage_safe_split" -> {
      def nib(i: Int) = {
        val a = s"ascii(substr(md5(CAST(unit AS VARCHAR)), $i, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      raw"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |prs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
        |          UNION SELECT id_b, id_a FROM prs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
        |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        |units AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS unit,
        |    length(d.text) AS chars
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |sides AS (
        |  SELECT doc_id, unit, chars,
        |    CASE WHEN ${nib(1)} * 16 + ${nib(2)} < 205
        |      THEN 'train' ELSE 'eval' END AS split
        |  FROM units)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS total_chars,
        |  CAST(count(DISTINCT unit) AS BIGINT) AS n_units,
        |  true AS no_leakage
        |FROM sides GROUP BY split ORDER BY split""".stripMargin
    },

    // The final inactivity expiry per user is (total events,
    // last event + 30 min) — timers only change WHEN it's emitted.
    "q188_stream_timers" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS expire_us
        |FROM events WHERE event_id % 9 = 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // The generated day column is CAST(ts AS DATE); the week filter
    // restates it over the raw timestamps.
    "q187_generated_columns" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  true AS files_pruned
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE'2024-01-10' AND DATE'2024-01-16'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The refused insert never lands; the post-drop sentinel does.
    "q186_sql_constraints" ->
      """WITH t AS (
        |  SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderpriority AS priority
        |  FROM orders WHERE o_orderkey % 4 IN (0, 1)
        |  UNION ALL
        |  SELECT -7, CAST(-1.00 AS DECIMAL(18,2)), '0-NEG')
        |SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(price) AS DOUBLE) AS total,
        |  true AS rejected_mid_constraint
        |FROM t GROUP BY priority ORDER BY priority""".stripMargin
  )

  /** DuckDB replay of [[graft.ext.Perceptron.train]] + the q173 confusion
    * matrix, the training loop UNROLLED per iteration (the chain IS the
    * spec of the fixed iteration count): w1 = Σ_all y·x (margin 0 counts
    * as misclassified for both classes), then per round the margins under
    * w_{t-1} pick the misclassified set whose signed counts fold into
    * w_t. All int64; the bias rides as feature index 1024. */
  private def perceptronOracleSql(iters: Int): String = {
    def nib(k: Int) = {
      val a = s"ascii(substr(md5(t), ${k + 1}, 1))"
      s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
    }
    val bkt = "CAST(" +
      (0 until 7).map(k => s"${nib(k)} * ${1L << (4 * k)}").mkString(" + ") +
      " AS BIGINT) % 1024"
    val head =
      raw"""tk AS (SELECT doc_id, COALESCE(lang = 'en', FALSE) AS pos,
           |    list_filter(string_split_regex(lower(text), '\W+'),
           |      x -> x <> '') AS t
           |  FROM documents),
           |tok AS (SELECT doc_id, pos, $bkt AS b FROM (
           |    SELECT doc_id, pos, unnest(t) AS t FROM tk)),
           |feat AS (SELECT doc_id, pos, b, CAST(COUNT(*) AS BIGINT) AS n
           |    FROM tok GROUP BY 1, 2, 3
           |  UNION ALL SELECT doc_id, pos, 1024, 1 FROM tk),
           |w1 AS (SELECT b, SUM(CASE WHEN pos THEN n ELSE -n END) AS w
           |  FROM feat GROUP BY b)""".stripMargin
    val rounds = (2 to iters).map { t =>
      s"""m$t AS (SELECT f.doc_id, SUM(f.n * w.w) AS margin
         |  FROM feat f JOIN w${t - 1} w ON f.b = w.b GROUP BY f.doc_id),
         |mis$t AS (SELECT tk.doc_id FROM tk JOIN m$t USING (doc_id)
         |  WHERE (tk.pos AND m$t.margin <= 0)
         |     OR (NOT tk.pos AND m$t.margin >= 0)),
         |d$t AS (SELECT f.b, SUM(CASE WHEN f.pos THEN f.n ELSE -f.n END) AS d
         |  FROM feat f JOIN mis$t m ON f.doc_id = m.doc_id GROUP BY f.b),
         |w$t AS (SELECT COALESCE(w.b, d.b) AS b,
         |    COALESCE(w.w, 0) + COALESCE(d.d, 0) AS w
         |  FROM w${t - 1} w FULL JOIN d$t d ON w.b = d.b)""".stripMargin
    }
    s"""WITH ${(head +: rounds).mkString(",\n")},
       |fm AS (SELECT f.doc_id, SUM(f.n * w.w) AS margin
       |  FROM feat f JOIN w$iters w ON f.b = w.b GROUP BY f.doc_id)
       |SELECT tk.pos AS is_en, fm.margin > 0 AS predicted,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(fm.margin) AS BIGINT) AS sum_margin
       |FROM tk JOIN fm USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** DuckDB CTE chain replaying [[graft.ext.KMeans.assign]] exactly:
    * quantize → md5 seeds → `iters` assign/update rounds → final
    * assignment `fin(vec_id, q, cid, dist)`. Generated per-iteration —
    * the unrolled chain IS the spec of the fixed iteration count. */
  private def kmeansCtes(k: Int, iters: Int): String = {
    def distExpr(c: String): String =
      s"16384*list_inner_product(z.q,z.q) - 256*list_inner_product(z.q,$c.c)" +
        s" + list_inner_product($c.c,$c.c)"
    val head =
      s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |s AS (SELECT vec_id, e,
         |  greatest(list_max(list_transform(e, x -> abs(x))),
         |           2.2250738585072014e-308) AS sc FROM v),
         |qz AS (SELECT vec_id,
         |  list_transform(e, x -> floor(x * 127.0 / sc + 0.5)) AS q FROM s),
         |seeds AS (SELECT q, CAST(row_number() OVER (
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS cid
         |  FROM qz ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
         |c0 AS (SELECT cid, list_transform(q, x -> x * 128.0) AS c FROM seeds)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""a$t AS (SELECT vec_id, q, cid FROM (
         |  SELECT z.vec_id, z.q, c.cid, row_number() OVER (
         |    PARTITION BY z.vec_id ORDER BY ${distExpr("c")}, c.cid) AS rk
         |  FROM qz z, c${t - 1} c) t WHERE rk = 1),
         |cr$t AS (SELECT a.cid, r.d, CAST(SUM(a.q[r.d]) AS BIGINT) AS sm,
         |    COUNT(*) AS n
         |  FROM a$t a, (SELECT CAST(range AS INT) + 1 AS d FROM range(64)) r
         |  GROUP BY a.cid, r.d),
         |c$t AS (SELECT p.cid, COALESCE(u.c, p.c) AS c FROM c${t - 1} p
         |  LEFT JOIN (SELECT cid,
         |      list(CAST(floor((sm*256.0 + n)/(2*n)) AS DOUBLE) ORDER BY d) AS c
         |    FROM cr$t GROUP BY cid) u ON p.cid = u.cid)""".stripMargin
    }
    val fin =
      s"""fin AS (SELECT vec_id, q, cid, CAST(dist AS BIGINT) AS dist FROM (
         |  SELECT z.vec_id, z.q, c.cid, ${distExpr("c")} AS dist,
         |    row_number() OVER (
         |      PARTITION BY z.vec_id ORDER BY ${distExpr("c")}, c.cid) AS rk
         |  FROM qz z, c$iters c) t WHERE rk = 1)""".stripMargin
    (head +: rounds :+ fin).mkString(",\n")
  }

  /** DuckDB CTE chain replaying [[graft.ext.ProductQuantization.topK]]
    * exactly: one full-vector int8 quantization (per-vector scale — the
    * same `qz` as [[kmeansCtes]]), then per subspace `s` the slice
    * `z$s`, md5 seeds, `iters` integer-Lloyd rounds, final code
    * assignment `f$s`, the query row's slice `qv$s` and its exact ADC
    * table `t$s`; `scs(vec_id, pq_dist)` sums the per-subspace lookups.
    */
  private def pqCtes(m: Int, ksub: Int, iters: Int, dim: Int,
      qid: Long): String = {
    require(dim % m == 0)
    val subdim = dim / m
    def distExpr(z: String, c: String): String =
      s"16384*list_inner_product($z.q,$z.q) - " +
        s"256*list_inner_product($z.q,$c.c) + list_inner_product($c.c,$c.c)"
    val head =
      s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |s AS (SELECT vec_id, e,
         |  greatest(list_max(list_transform(e, x -> abs(x))),
         |           2.2250738585072014e-308) AS sc FROM v),
         |qz AS (SELECT vec_id,
         |  list_transform(e, x -> floor(x * 127.0 / sc + 0.5)) AS q FROM s)""".stripMargin
    val subs = (0 until m).map { sub =>
      val lo = sub * subdim + 1
      val hi = (sub + 1) * subdim
      val train = (1 to iters).map { t =>
        s"""a${sub}_$t AS (SELECT vec_id, q, cid FROM (
           |  SELECT z.vec_id, z.q, c.cid, row_number() OVER (
           |    PARTITION BY z.vec_id ORDER BY ${distExpr("z", "c")}, c.cid) AS rk
           |  FROM z$sub z, c${sub}_${t - 1} c) t WHERE rk = 1),
           |cr${sub}_$t AS (SELECT a.cid, r.d, CAST(SUM(a.q[r.d]) AS BIGINT) AS sm,
           |    COUNT(*) AS n
           |  FROM a${sub}_$t a,
           |    (SELECT CAST(range AS INT) + 1 AS d FROM range($subdim)) r
           |  GROUP BY a.cid, r.d),
           |c${sub}_$t AS (SELECT p.cid, COALESCE(u.c, p.c) AS c FROM c${sub}_${t - 1} p
           |  LEFT JOIN (SELECT cid,
           |      list(CAST(floor((sm*256.0 + n)/(2*n)) AS DOUBLE) ORDER BY d) AS c
           |    FROM cr${sub}_$t GROUP BY cid) u ON p.cid = u.cid)""".stripMargin
      }
      (Seq(
        s"""z$sub AS (SELECT vec_id, q[$lo:$hi] AS q FROM qz),
           |sd$sub AS (SELECT q, CAST(row_number() OVER (
           |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS cid
           |  FROM z$sub ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ksub),
           |c${sub}_0 AS (SELECT cid, list_transform(q, x -> x * 128.0) AS c FROM sd$sub)""".stripMargin
      ) ++ train ++ Seq(
        s"""f$sub AS (SELECT vec_id, cid FROM (
           |  SELECT z.vec_id, c.cid, row_number() OVER (
           |    PARTITION BY z.vec_id ORDER BY ${distExpr("z", "c")}, c.cid) AS rk
           |  FROM z$sub z, c${sub}_$iters c) t WHERE rk = 1),
           |qv$sub AS (SELECT q FROM z$sub WHERE vec_id = $qid),
           |t$sub AS (SELECT c.cid,
           |    CAST(${distExpr("z", "c")} AS BIGINT) AS d
           |  FROM c${sub}_$iters c, qv$sub z)""".stripMargin
      )).mkString(",\n")
    }
    val score =
      s"""scs AS (SELECT f0.vec_id,
         |  ${(0 until m).map(s => s"t$s.d").mkString(" + ")} AS pq_dist
         |  FROM ${(0 until m).map(s => s"f$s").mkString(", ")},
         |    ${(0 until m).map(s => s"t$s").mkString(", ")}
         |  WHERE ${(1 until m).map(s => s"f0.vec_id = f$s.vec_id").mkString(" AND ")}
         |    AND ${(0 until m).map(s => s"f$s.cid = t$s.cid").mkString(" AND ")})""".stripMargin
    (head +: subs :+ score).mkString(",\n")
  }
}
