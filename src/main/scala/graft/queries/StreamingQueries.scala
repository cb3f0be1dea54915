package graft
package queries

import graft.GraftSession.withConf
import graft.core.TableStore

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Support._

/** Structured Streaming replays of fixture data, each checked
  * against the batch answer. */
object StreamingQueries {

  val all: Seq[Query] = Seq(
    // Streaming CDC→SCD2, oracle-anchored: the SAME deltas as q20 arrive
    // as THREE event-time-ordered micro-batches through a parquet
    // file-stream source (the test stand-in for a Kafka CDC feed — see
    // [[FileReplay]]; no fixture data touches the driver) into
    // CdcStream.streamScd2 — each micro-batch is one atomic SCD2 commit
    // (mirrors updating_db_with_deltas_iceberg.ipynb cells 29-37 run
    // continuously). The final table state must equal the batch-derived
    // SCD2 chain, so the q20 lead-window SQL is the oracle.
    Query("q64_stream_cdc_scd2", Family.Streaming, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val q = graft.streaming.CdcStream.streamScd2(replay.source, store, "ev",
        pkCol = "user_id", tsCol = "ts",
        Scratch.dir("ckpt"))
      try replay.feedSlices(q, ev, "ts", 3)
      finally q.stop()
      store.read("ev")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("start_datetime"), col("end_datetime"),
          col("is_current"))
        .orderBy(col("user_id"), col("start_datetime"))
    }, oracleSql =
      // The streaming path must converge to the identical SCD2 chain.
      """SELECT user_id, event_id, event_type, value,
        | ts AS start_datetime,
        | coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
        |          TIMESTAMP '2250-01-01') AS end_datetime,
        | (lead(ts) OVER (PARTITION BY user_id ORDER BY ts)) IS NULL AS is_current
        |FROM events
        |ORDER BY user_id, start_datetime""".stripMargin),

    // Streaming windowed aggregation, oracle-anchored: a deterministic 10%
    // slice of the events table replayed in event-time order as three
    // micro-batches through a parquet file-stream source ([[FileReplay]];
    // no fixture data touches the driver);
    // CdcStream.windowedEventCounts (watermark + tumbling window) emits
    // finalized windows in Append mode into the versioned store via
    // foreachBatch. A far-future sentinel event advances the watermark
    // past every real window so state flushes; the final table must equal
    // the batch group-by over the same slice.
    Query("q68_stream_windows", Family.Streaming, (s, dir) => {
      import s.implicits._
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val agg = graft.streaming.CdcStream.windowedEventCounts(replay.source)
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // Streaming replay of the same windowed aggregate over a 10% event
      // slice: the flushed Append-mode stream state must equal the batch
      // group-by over that slice.
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_id % 10 = 0
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // Streaming face of the table format: spark.readStream.table over a
    // GraftCatalog table — three committed snapshots arrive as
    // micro-batches (offsets = versions), and the union of all batches
    // must equal the whole table (the batch group-by oracle).
    Query("q72_stream_table_source", Family.Streaming, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev.filter(col("ts") < lit("2024-01-10")), "create")
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-10") &&
        col("ts") < lit("2024-01-20")))
      store.append("ev", ev.filter(col("ts") >= lit("2024-01-20")))
      val sink = s"q72_sink_${System.nanoTime()}"
      val q = s.readStream.table(s"$cat.ns.ev")
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation",
          Scratch.dir("ckpt"))
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumd(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Micro-batched union of all three snapshots = the whole table.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

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
    Query("q77_stream_dedup", Family.Streaming, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val replay = new FileReplay(s, ev.schema)
      val keyed = replay.source
        .withColumn("day", date_trunc("day", col("ts")))
      val uniq = graft.streaming.CdcStream.dedupFirstWithinWatermark(
        keyed, Seq("user_id", "event_type", "day"), "48 hours")
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // Batch DISTINCT over the same keys the stream dedups on — exactness
      // holds because every duplicate of a (user, type, day) key arrives
      // within the 48 h watermark delay of its first occurrence.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_unique
        |FROM (SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS d
        |      FROM events WHERE event_id % 10 = 0) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Streaming stream-stream interval join, oracle-anchored: left =
    // every 10th event, right = events %10==5, joined on user within a
    // 1-hour lookback. Both sides replay through parquet file-stream
    // sources in aligned event-time slices; 48 h watermarks bound the
    // join state, and (replay in order + lookback ≪ delay) makes the
    // streamed result equal the batch interval join exactly.
    Query("q84_stream_interval_join", Family.Streaming, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val left = ev.filter(col("event_id") % 10 === 0)
      val right = ev.filter(col("event_id") % 10 === 5)
      val lr = new FileReplay(s, left.schema)
      val rr = new FileReplay(s, right.schema)
      val joined = graft.streaming.CdcStream.intervalJoin(
        lr.source, rr.source, "user_id", "ts", "1 HOUR", "48 hours")
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // The batch interval join the stream must reproduce exactly.
      """SELECT r.event_type AS r_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CAST(l.value AS DECIMAL(18,2))) AS DOUBLE) AS total_l_value
        |FROM (SELECT * FROM events WHERE event_id % 10 = 0) l
        |JOIN (SELECT * FROM events WHERE event_id % 10 = 5) r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        |GROUP BY r.event_type ORDER BY r_type""".stripMargin),

    // Streaming sessionization, oracle-anchored: the deterministic 10%
    // event slice replayed in event-time order; flatMapGroupsWithState
    // with a 30-min inactivity gap and event-time timeout emits closed
    // sessions; a far-future sentinel advances the watermark so every
    // open session flushes. Per-user session/event counts must equal the
    // batch gap-sessionization SQL (gap compares at full microsecond
    // precision on both sides).
    Query("q85_stream_sessionize", Family.Streaming, (s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val sessions = graft.streaming.CdcStream.sessionize(
        replay.source.as[graft.streaming.Event], gapMinutes = 30, "1 hour")
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // Batch gap-sessionization over the same slice (q45's SQL shape with
      // the slice filter): session starts where the micros gap exceeds
      // 30 min.
      """WITH e AS (SELECT user_id, ts FROM events WHERE event_id % 10 = 0),
        |g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),

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
    Query("q89_stream_sink", Family.Streaming, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 3)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      s.sql(s"CREATE TABLE $cat.ns.sink (event_id BIGINT, ts TIMESTAMP, " +
        "event_type STRING, value DOUBLE)")
      val replay = new FileReplay(s, ev.schema)
      val q = replay.source.writeStream
        .option("checkpointLocation",
          Scratch.dir("ckpt"))
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
    }, oracleSql =
      // The streamed sink table must equal the batch slice it replayed.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS epoch_ledger_ok
        |FROM events WHERE event_id % 10 = 3
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Streaming CDC upsert sink (merge-on-read): base = an events slice;
    // the CDC stream carries updated images (+1000 on %3==1) and delete
    // markers (%3==2), replayed as three micro-batches through the parquet
    // file source. Each batch applies as ONE atomic O(churn) snapshot
    // (applyCdcMoR: new images + one delete file; nothing rewritten) with
    // the (queryId, batchId) exactly-once stamp. Final table state must
    // equal the batch-computed expectation; `epoch_ledger_ok` asserts one
    // stable query id over consecutive epochs and that no data file of the
    // base snapshot was rewritten.
    Query("q90_stream_upsert_mor", Family.Streaming, (s, dir) => {
      val base = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 4)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val store = Scratch.store(s)
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
        Scratch.dir("ckpt"))
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
    }, oracleSql =
      // Post-CDC state of the %10==4 slice: %3==1 carries the +1000 image,
      // %3==2 is deleted, the rest is the original row.
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_id % 3 = 1
        |       THEN CAST(value AS DECIMAL(18,2)) + 1000
        |       ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value,
        |  true AS epoch_ledger_ok
        |FROM events WHERE event_id % 10 = 4 AND event_id % 3 <> 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // streaming: bounded-backlog streaming reads — reader option
    // maxVersionsPerTrigger throttles each micro-batch to N snapshots
    // via admission control (Delta's maxFilesPerTrigger shape): a stream
    // started against a deep table drains it in bounded batches instead
    // of one giant first batch. The anchor builds a 4-version backlog,
    // streams it 1 version per trigger, and proves ≥4 bounded batches
    // delivered exactly the table's rows.
    Query("q109_stream_rate_limit", Family.Streaming, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("event_type"), col("value"))
      val (wh, cat) = Scratch.catalog(s)
      val store = new TableStore(s, wh)
      store.commit("ev", ev.filter(col("event_id") % 40 === 0), "create")
      (1 to 3).foreach(i =>
        store.append("ev", ev.filter(col("event_id") % 40 === i * 10)))
      val sink = Scratch.store(s)
      val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // Rate-limited streaming delivers exactly the backlog's rows
      // (event_id % 10 = 0, i.e. % 40 in {0,10,20,30}).
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  true AS bounded_batches
        |FROM events WHERE event_id % 10 = 0
        |GROUP BY event_type""".stripMargin),

    // Streaming LEFT OUTER interval join (q158): q84's enrichment shape
    // when the right side is sparse and unmatched lefts must still be
    // emitted (nulls) instead of silently dropped — the fact-stream /
    // slow-dimension-stream case. Outer emission is watermark-driven:
    // after the data slices, sentinel rows (user −1, +10/+20 days) on
    // BOTH feeds push the global watermark past every real row's match
    // horizon and the following batch flushes the unmatched tail. The
    // sentinels themselves can never be flushed (nothing outruns them)
    // and are filtered from the sink.
    Query("q158_stream_outer_join", Family.Streaming, (s, dir) => {
      val store = Scratch.store(s)
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
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // Batch replay of the streamed left-outer interval join — the
      // watermark flush must surface exactly the unmatched lefts the
      // batch LEFT JOIN produces.
      """SELECT l.event_id, l.user_id,
        |  r.event_type AS r_event_type, r.value AS r_value
        |FROM (SELECT * FROM events WHERE event_id % 10 = 0) l
        |LEFT JOIN (SELECT * FROM events WHERE event_id % 30 = 5) r
        |  ON l.user_id = r.user_id
        |  AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        |ORDER BY l.event_id, r_event_type""".stripMargin),

    // Stream-static enrichment join (q169) — the canonical lookup
    // pattern: a streaming fact feed joined per micro-batch against a
    // DIMENSION SNAPSHOT served through the table layer (broadcast-grade
    // static side, re-planned each batch, no stream state at all —
    // contrast q84/q158 where both sides keep watermarked state).
    Query("q169_stream_static_join", Family.Streaming, (s, dir) => {
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"))
        .filter(col("event_id") % 5 === 0)
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      store.commit("dim", dim, "create")
      val er = new FileReplay(s, ev.schema)
      val joined = er.source.join(store.read("dim"), Seq("user_id"))
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // The per-batch lookup join, replayed as one batch join.
      """SELECT c_mktsegment AS segment, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_id
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_id % 5 = 0
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin),

    // Streaming FULL OUTER interval join (q177) — both sides emit their
    // unmatched rows once the watermark proves no match can still arrive
    // (q158's left-outer generalized: state is watermark-bounded on BOTH
    // sides, and the batch FULL JOIN is the oracle). Sentinel feeds push
    // the watermark past the data so the bounded replay flushes both
    // unmatched tails.
    Query("q177_stream_full_outer_join", Family.Streaming, (s, dir) => {
      val store = Scratch.store(s)
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
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // Batch FULL JOIN twin of the watermark-flushed streaming replay.
      """SELECT l.event_id AS l_event_id, r.event_id AS r_event_id,
        |  COALESCE(l.user_id, r.user_id) AS user_id,
        |  r.event_type AS r_event_type
        |FROM (SELECT * FROM events WHERE event_id % 10 = 0) l
        |FULL JOIN (SELECT * FROM events WHERE event_id % 30 = 5) r
        |  ON l.user_id = r.user_id
        |  AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        |ORDER BY user_id, l_event_id, r_event_id""".stripMargin),

    // transformWithState (q184) — Spark 4's State API v2 over the RocksDB
    // state store: per user a ValueState (running count + exact cents)
    // AND a MapState (per-event-type counts) survive micro-batch
    // boundaries; each batch emits an updated snapshot per key seen
    // (Update mode). The deterministic 1/7 event slice replays in three
    // event-time batches; the final snapshot per user (max-n — n is
    // strictly monotone) must equal the batch aggregate, per user and
    // per top event type. StatefulOpsSpec gates the operator.
    Query("q184_transform_with_state", Family.Streaming, (s, dir) => {
      import s.implicits._
      val store = Scratch.store(s)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 7 === 0)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val profiles = graft.streaming.StatefulOps.runningProfiles(
        replay.source.as[graft.streaming.Event])
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // Batch restatement of the per-user stateful profiles: running counts
      // and exact-cents sums fold to plain aggregates; the MapState argmax
      // is count DESC, type name ASC.
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
        |ORDER BY t.user_id""".stripMargin),

    // Event-time timers (q188) — State API v2 timers over the RocksDB
    // store: each user's single timer re-arms at (latest event + 30 min);
    // when the WATERMARK passes it, handleExpiredTimer emits the user's
    // totals — inactivity detection driven by the stream's own clock.
    // The deterministic 1/9 event slice replays in three event-time
    // batches plus a far-future sentinel that flushes every live timer;
    // intermediate fires depend on watermark progress, so the anchor
    // folds to the FINAL max-(n, expire_ts) snapshot per user, which
    // must equal the batch (count, max ts + 30 min) — microsecond-exact.
    Query("q188_stream_timers", Family.Streaming, (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 9 === 0)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val replay = new FileReplay(s, ev.schema)
      val expiries = graft.streaming.StatefulOps.inactivityExpiry(
        replay.source.as[graft.streaming.Event], gapMinutes = 30,
        watermarkDelay = "0 seconds")
      val ckpt = Scratch.dir("ckpt")
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
    }, oracleSql =
      // The final inactivity expiry per user is (total events,
      // last event + 30 min) — timers only change WHEN it's emitted.
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS expire_us
        |FROM events WHERE event_id % 9 = 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
  )
}
