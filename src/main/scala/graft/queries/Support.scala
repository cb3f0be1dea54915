package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Helpers shared by the query families.
  *
  * Numeric-determinism discipline (so results hash-match the DuckDB oracle):
  * every aggregated numeric is either (a) an exact-decimal SUM (addition is
  * order-independent), (b) a COUNT, or (c) deterministic double arithmetic on
  * top of those exact values (e.g. avg = exact-sum::double / count). We never
  * expose an engine-internal double accumulation (plain SUM/AVG/STDDEV over
  * doubles), whose value depends on partition merge order.
  */
object Support {

  def dec(c: Column, scale: Int): Column = c.cast(DecimalType(18, scale))

  /** All GraftStatsScan instances in an executed plan (recursing through
    * AQE wrappers) — used by queries that assert runtime pruning fired. */
  def collectGraftScans(p: org.apache.spark.sql.execution.SparkPlan)
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
  def dsum(c: Column, scale: Int = 2): Column =
    sum(dec(c, scale)).cast(DecimalType(18, scale))

  /** File-source replay harness for the streaming anchors: fixture batches
    * are APPENDED as parquet into a watched directory between
    * `processAllAvailable()` calls, so each append arrives as its own
    * micro-batch through a real distributed source. Nothing is ever
    * collected to the driver — the r4 `MemoryStream` feeder pulled the
    * whole fixture through the driver, so at a 100× fixture the anchor
    * died before the operator under test ran; this path is a distributed
    * write + file-stream read end to end. */
  final class FileReplay(s: SparkSession, schema: StructType) {
    private val scratch = Scratch.active
    private val dir = scratch.dir("replay")
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
      val st = java.nio.file.Paths.get(scratch.dir("stage"))
      batch.coalesce(1).write.mode("overwrite").parquet(st.toString)
      st.toFile.listFiles.toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => (f.toPath, java.nio.file.Paths.get(dir, f.getName)))
    }
    /** Stage `n` contiguous event-time slices of `rows` — replay order =
      * event-time order, the slices of [[sliceOf]] — plus one
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
      val st = java.nio.file.Paths.get(scratch.dir("stage"))
      val all = extras.zipWithIndex.foldLeft(
        rows.withColumn("__slice", sliceOf(rows, tsCol, n))) { case (acc, (ex, i)) =>
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

  object FileReplay {
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
  def withBatch(b0: DataFrame)(body: DataFrame => Unit): Unit = {
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
  val noDataBatchesOff =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  val rocksDbStateStore =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The event-time slice, `0 until n`, of each row of `rows`: `n`
    * equal spans between the smallest and largest `tsCol` (replay order =
    * event-time order, so watermarks only move forward and no fixture row
    * is ever late). Bounds come from one aggregate — bounded metadata,
    * not fixture data. A NULL event time belongs to no slice, so it is
    * rejected here rather than silently left out of the replay. */
  def sliceOf(rows: DataFrame, tsCol: String, n: Int): Column = {
    val mm = rows.agg(min(col(tsCol)).cast("double"),
      max(col(tsCol)).cast("double"), count(when(col(tsCol).isNull, 1))).head
    require(mm.getLong(2) == 0L,
      s"${mm.getLong(2)} rows have a NULL $tsCol; every replayed row needs an event time")
    val lo = mm.getDouble(0)
    val span = math.max(mm.getDouble(1) - lo, 1e-9)
    least(lit(n - 1),
      floor((col(tsCol).cast("double") - lit(lo)) / lit(span) * n)).cast("int")
  }

  /** Split a fixture frame into its `n` contiguous event-time slices
    * ([[sliceOf]]). */
  def timeSlices(rows: DataFrame, tsCol: String, n: Int): Seq[DataFrame] = {
    val bucket = sliceOf(rows, tsCol, n)
    (0 until n).map(b => rows.filter(bucket === b))
  }

  /** Exact decimal sum surfaced as DOUBLE. Internal math stays exact decimal
    * (order-independent); the single final decimal→double conversion is
    * deterministic and bit-identical across engines. We never OUTPUT a
    * decimal-typed column: the driver's hasher canonicalizes DuckDB decimals
    * via float64 but Spark parquet decimals exactly, so any decimal output
    * column hash-mismatches on trailing-zero representation. */
  def dsumd(c: Column, scale: Int = 2): Column =
    dsum(c, scale).cast(DoubleType)
  /** SQL texts valid in BOTH Spark SQL and DuckDB, run verbatim on each
    * engine — the two-engine differential exactly mirrors the reference's
    * Spark-vs-Athena consistency check (SURVEY.md §5). */
  object SharedSql {
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
}
