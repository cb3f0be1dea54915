package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Mirrors the reference's benchmark harness semantics
  * (reference/src/data_derivation/query_performance/benchmark_functions.py:
  * 12-106: N iterations per query, stats aggregated) adapted to a single
  * JVM: one warmup pass at sf0.001 absorbs session/codegen init, then each
  * query is timed twice at the target scale and the best time is reported
  * (the reference averaged warm Athena runs; min-of-2 is the single-node
  * analogue).
  *
  * DELIVERY DISCIPLINE (r6/r7 lessons — the official record was lost two
  * rounds running, first to a shutdown race, then to the driver's
  * ~60-minute wall clock):
  *  - ALL logging is muted for the ENTIRE timed run, and progress goes to
  *    a FILE (`SPARK_GRAFT_BENCH_LOG`, default bench_progress.log), so
  *    the driver's captured ~2000-char output tail only ever contains
  *    this harness's own JSON lines;
  *  - a CUMULATIVE result line (headline + every completed section,
  *    "partial":true) is printed after every section and every ~45 s of
  *    the query loop — whatever instant the process dies, the last
  *    stdout line is a parseable record of everything finished;
  *  - the default deadline fits the driver's window (~49 min), and every
  *    optional section is gated on the remaining budget SCALED by the
  *    measured pace of this box vs the clean-box estimates (a co-tenant
  *    that slows the headline 2x shrinks what the sections attempt,
  *    instead of overrunning into a SIGKILL).
  *
  * After the headline come three sections, all over `SPARK_GRAFT_SF_DIR`:
  * `overhead` (the snapshot layer vs raw parquet), `mor_tax` (the read
  * cost of accumulating equality deletes) and `overhead_late` (the
  * overhead probe again, on the aged session). Curation and TPC-DS
  * derivation timings are perfbench's (`BENCHMARK.json`), which checks
  * their answers and bounds them.
  */
object Bench {

  /** Every registered query except q34 (the exact O(N²) cosine baseline,
    * kept out by design — its scale path q35 is benchmarked instead), so
    * the driver's perf gate sees the full surface: a regression in the SQL
    * write path, partition pruning, set-ops, or schema evolution is as
    * visible as one in the headline joins. */
  val headline: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("q34"))

  /** A20 metrics collector (replaces the reference's Athena `Statistics` /
    * Glue DPU collectors — SURVEY.md §2A A19/A20): scan size from the
    * executed plan's file-scan nodes (the analogue of Athena's
    * DataScannedInBytes; task-level inputMetrics report 0 on local fs) and
    * shuffle bytes from task metrics. */
  private final class BytesListener extends SparkListener
      with org.apache.spark.sql.util.QueryExecutionListener {
    val input = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val cpuNs = new AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        cpuNs.addAndGet(m.executorCpuTime)
        ()
      }
    }
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      // AQE wraps the final plan: recurse through adaptive/stage nodes.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scanned(p: SparkPlan): Long = {
        val self = if (p.metrics.contains("filesSize")) p.metrics("filesSize").value else 0L
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case s: QueryStageExec => Seq(s.plan)
          case o => o.children
        }
        self + kids.map(scanned).sum
      }
      input.addAndGet(scanned(qe.executedPlan))
      ()
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    def reset(): Unit = { input.set(0L); shuffleWrite.set(0L); cpuNs.set(0L) }
  }

  /** The bench's tuned session: [[GraftSession.builder]] plus AQE, a
    * 64 MB broadcast threshold, 32 MB file splits and a 90 s cleaner.
    * [[graft.tools.ProfileQuery]] profiles queries in the same session. */
  def session(cores: Int): SparkSession.Builder =
    GraftSession.builder(cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Let AQE swap sort-merge for shuffled-hash when EVERY build-side
      // partition is measured under this threshold — the analytic joins
      // here are hash-friendly (DuckDB's default), and the conversion is
      // scale-safe by construction: at 100× data the partitions exceed
      // the bound and AQE leaves the sort-merge plan alone.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
      // 64 MB broadcast threshold (default 10 MB predates boxes like this
      // one): a 2M-row projected dimension broadcasts and the fact side
      // joins map-side with NO shuffle. Scale-safe by the same mechanism
      // that makes the default safe — a dimension that outgrows the
      // threshold at a bigger SF simply stops broadcasting.
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // The fixtures are one parquet file per table; default 128 MB splits
      // leave a 1.3 GB lineitem scanning on 11 of 32 cores and a 112 MB
      // events table on ONE. 32 MB splits spread single-file scans wide;
      // on a real multi-file layout at scale the knob is simply neutral
      // (files already outnumber cores).
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_SPLIT_BYTES", "33554432"))
      // Shuffle files on local disk are reclaimed only when the driver
      // GCs the shuffle objects; the 30-min default periodic GC let a
      // full run accumulate 55 GB of /tmp/blockmgr-* (measured r8),
      // which first starved the page cache (the sf10 CoW cells ran 3x
      // slow) and then ENOSPC'd the sf100 block. 90 s keeps the
      // high-water mark near one section's working set.
      .config("spark.cleaner.periodicGC.interval", "90s")

  /** Best-effort janitor for scratch orphaned by KILLED runs (a SIGKILL
    * skips every finally and shutdown hook): removes each per-process dir
    * under `root` (graft's own scratch root, [[Scratch]]) that was last
    * modified before `cutoffMs` and whose process is gone. Nothing
    * outside `root` is touched. Returns how many dirs it removed. (r7
    * lesson: ~40 GB of orphans from killed sessions ENOSPC'd the sf100
    * curation cell.) */
  private[graft] def sweepStaleScratch(root: java.nio.file.Path,
      cutoffMs: Long): Int = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    def live(p: java.nio.file.Path): Boolean =
      p.getFileName.toString.toLongOption
        .exists(pid => java.lang.ProcessHandle.of(pid).isPresent)
    if (!Files.isDirectory(root)) 0
    else {
      val ls = Files.list(root)
      val stale = try ls.iterator.asScala.filter(p =>
          Files.isDirectory(p) && !live(p) &&
            Files.getLastModifiedTime(p).toMillis < cutoffMs).toList
        finally ls.close()
      stale.count { p =>
        try { Scratch.deleteRecursively(p); true }
        catch { case _: java.io.IOException => false }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    // ---- progress goes to a FILE, never the captured stream -----------
    val progressPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOG",
      "bench_progress.log")
    val verbose = sys.env.contains("SPARK_GRAFT_BENCH_VERBOSE")
    val progressWriter = try {
      new java.io.PrintWriter(new java.io.FileWriter(progressPath, false), true)
    } catch { case _: Exception => null }
    def progress(m: String): Unit = {
      val line = f"[bench +${(System.nanoTime() - benchT0) / 1e9}%.0f] $m"
      if (progressWriter != null) progressWriter.println(line)
      if (verbose || progressWriter == null) System.err.println(line)
    }
    try {
      val freed = sweepStaleScratch(Scratch.root.getParent,
        System.currentTimeMillis() - 2L * 3600 * 1000)
      if (freed > 0) progress(s"swept $freed stale scratch dirs")
    } catch { case _: Exception => }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val spark = session(cpus).getOrCreate()
    // Mute ALL logging for the whole timed run (not only at exit): the
    // driver's tail is a combined stream, and any log line emitted after
    // the latest checkpoint print erodes the ~2000-char window the final
    // record must survive in. Diagnostics live in the progress file.
    try {
      spark.sparkContext.setLogLevel("OFF")
      org.apache.logging.log4j.core.config.Configurator.setAllLevels(
        org.apache.logging.log4j.LogManager.getRootLogger.getName,
        org.apache.logging.log4j.Level.OFF)
    } catch { case _: Throwable => () }

    // Wall-clock guard: the driver kills the bench at ~60 min (measured
    // r7: SIGKILL at +3605 s), so the DEFAULT deadline leaves margin for
    // JVM/sbt startup and the final writes. Optional sections consult
    // the remaining budget — scaled by this box's measured pace — and
    // skip rather than risk the record.
    val deadlineS = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_S", "2940").toDouble
    def remainingS(): Double = deadlineS - (System.nanoTime() - benchT0) / 1e9

    // SPARK_GRAFT_BENCH_ONLY: comma-separated query-name substrings for
    // targeted diagnosis runs (e.g. "q31,q32"); unset = full headline.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val queries = headline.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.exists(n.contains)))

    // Warmup at the smallest scale: pays JIT/codegen/parquet-footer costs
    // once so timed runs measure the plan, not the JVM.
    val headlineT0 = System.nanoTime() // pace excludes JVM/session startup
    progress(s"warmup over ${queries.size} queries at sf0.001")
    queries.foreach { name =>
      try SparkEntry.run(spark, name, "/root/testdata/sf0.001")(_.count())
      catch { case _: Throwable => }
      finally spark.catalog.clearCache()
    }
    progress("warmup done")

    val listener = new BytesListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)

    // The reference averages 4-5 timed iterations and keeps a CSV for
    // ratio analysis (benchmark_functions.py:51-106); iteration count and
    // CSV path are env-tunable, defaults match the driver's budget.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    // Outlier re-timing budget: a single-JVM bench on a shared box can
    // catch an exogenous load spike (another JVM, the OS) mid-iteration —
    // r2/r3 showed 50×+ one-off outliers on queries that are 5 s on an
    // idle box. When the spread within a query exceeds 2×, spend up to
    // this many extra iterations so the reported mean/median reflect the
    // query, not the co-tenant. All iterations (outliers included) are
    // kept in the CSV and in max/n below — nothing is hidden.
    val extraIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA", "2").toInt
    val csvPath = sys.env.get("SPARK_GRAFT_BENCH_CSV")

    // Process-CPU share distinguishes "the query is slow" from "the box
    // was busy": a legitimate slow iteration burns our own CPU on 32
    // threads; an iteration stretched by a co-tenant shows near-zero
    // process-CPU fraction over a long wall-clock.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    case class Iter(sec: Double, procCpuSec: Double, sysLoad: Double)
    case class QStats(its: Seq[Iter], input: Long, shuffle: Long,
        cpuSec: Double, failed: Boolean) {
      def times: Seq[Double] = its.map(_.sec)
      def min: Double = times.min
      def max: Double = times.max
      def mean: Double = times.sum / times.size
      def median: Double = {
        val s = times.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      def cpuFrac: Double =
        its.map(_.procCpuSec).sum / math.max(times.sum * cpus, 1e-9)
    }

    // Results accumulate INCREMENTALLY so the checkpoint line mid-loop
    // carries every query timed so far.
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, QStats)]
    def okNow: Seq[(String, QStats)] = results.filterNot(_._2.failed).toSeq
    def failedNames: Seq[String] = results.filter(_._2.failed).map(_._1).toSeq

    // A20 cost model, mirroring what the reference's collectors priced:
    // an Athena-style scan charge ($5/TB, 10 MB minimum per query) and a
    // Glue-style compute charge (DPU-hour ≈ 4 vCPU ⇒ $0.44/(4 cpu-hours)).
    def estCost(st: QStats): Double = {
      val scanUsd = math.max(st.input, 10L * 1024 * 1024) / 1e12 * 5.0
      val cpuUsd = st.cpuSec / 3600.0 / 4.0 * 0.44
      scanUsd + cpuUsd
    }

    // ---- final-line construction -------------------------------------
    // The driver records only the LAST ~2000 chars of output, so the
    // line is built to FIT that window WHOLE (r5's tail cut 40 of 130
    // per-query times): query keys are the unique qNN prefix, times are
    // trailing-zero-stripped with precision scaled to magnitude
    // (0.14 / 3.4 / 124), sections use short keys (legends in the
    // section builders + SURVEY §6), and everything else lives in the
    // detail sidecar. Stability: mx=worst mean/min, ov=queries over the
    // 1.5x spread bound (empty = all stable).
    def fmt(t: Double): String = {
      val s = if (t >= 10) f"$t%.0f" else if (t >= 1) f"$t%.1f" else f"$t%.2f"
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }
    def short(k: String): String = k.takeWhile(_ != '_')
    // Every query key the PREVIOUS round's parsed record carried must stay
    // in this round's "queries" map — the driver's round-over-round diff
    // marks a key that vanishes as dropped_from_bench (18 were flagged in
    // r9 when the fast-fold elided them). Pinned keys never fold into
    // "qf", no matter how fast they get; only queries that were ALREADY
    // folded last round may fold again.
    val pinnedKeys: Set[String] = Set(
      "q02", "q06", "q07", "q08", "q10", "q100", "q101", "q102", "q103", "q106", "q107", "q108",
      "q109", "q110", "q112", "q113", "q114", "q115", "q116", "q117", "q118", "q119", "q127", "q128",
      "q131", "q132", "q133", "q134", "q135", "q136", "q137", "q138", "q139", "q140", "q141", "q143",
      "q144", "q145", "q146", "q147", "q148", "q151", "q153", "q156", "q157", "q158", "q159", "q160",
      "q162", "q165", "q166", "q168", "q169", "q172", "q173", "q174", "q175", "q177", "q178", "q179",
      "q180", "q181", "q182", "q183", "q184", "q185", "q186", "q187", "q188", "q189", "q19", "q190",
      "q20", "q21", "q22", "q23", "q26", "q28", "q29", "q31", "q32", "q33", "q35", "q41",
      "q42", "q48", "q49", "q50", "q51", "q52", "q54", "q55", "q56", "q57", "q58", "q60",
      "q61", "q62", "q63", "q64", "q65", "q68", "q71", "q72", "q77", "q78", "q79", "q80",
      "q81", "q82", "q83", "q84", "q85", "q86", "q87", "q88", "q89", "q90", "q91", "q92",
      "q94", "q95", "q96", "q97", "q98", "q99",
      // the 18 keys r9's fold dropped relative to r8 — restored (r8's
      // 144-entry line measured 1721 chars WITH sections, inside the
      // window, so 144 pinned keys are known to fit)
      "q09", "q111", "q120", "q124", "q125", "q129", "q130", "q142", "q15",
      "q164", "q171", "q176", "q25", "q44", "q47", "q69", "q76", "q93")
    val sfShort = new java.io.File(sfDir).getName
    val overheadJsonRef = new java.util.concurrent.atomic.AtomicReference("")
    val provisionalLine = new java.util.concurrent.atomic.AtomicReference("")
    val finalPrinted = new java.util.concurrent.atomic.AtomicBoolean(false)
    def buildLine(thresh: Double, partial: Boolean,
        spreadFields: Boolean = true): String = {
      val ok = okNow
      val maxSpread = ok.map(st => st._2.mean / math.max(st._2.min, 1e-9))
        .foldLeft(0.0)(math.max)
      // capped at 2 names + a count so an unstable box can't push the
      // line past the tail window (full list in the CSV/detail)
      val violators = ok
        .filter(st => st._2.mean / math.max(st._2.min, 1e-9) > 1.5)
        .map(st => short(st._1))
      val spreadViolators = (violators.take(2) ++
        (if (violators.size > 2) Seq(s"+${violators.size - 2}") else Nil))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val failedJson = failedNames.map("\"" + short(_) + "\"").mkString("[", ",", "]")
      val total = ok.map(_._2.min).sum
      // If the full per-query map would push the line past the window,
      // the FASTEST queries are elided into "qf":{"n":count,"lt":thresh,
      // "tot":sum} — the slow queries are the perf signal the tail must
      // carry whole; every elided time is in the sidecar and the CSV.
      val (big, small) = ok.partition(st =>
        st._2.min >= thresh || pinnedKeys.contains(short(st._1)))
      val qs = big.map { case (k, st) => "\"" + short(k) + "\":" + fmt(st.min) }
        .mkString("{", ",", "}")
      val qf = if (small.isEmpty) ""
        else f""","qf":{"n":${small.size},"lt":$thresh%.2f,"tot":${small.map(_._2.min).sum}%.1f}"""
      val part = if (partial) ""","partial":true""" else ""
      val spread = if (spreadFields)
        f""","mx":$maxSpread%.2f,"ov":$spreadViolators""" else ""
      f"""{"metric":"total","value":$total%.1f,"unit":"sec","queries":$qs$qf""" +
        spread +
        s"""${overheadJsonRef.get}$part,""" +
        s""""sf":"$sfShort","failed":$failedJson}"""
    }
    // 1750, not ~2000: when the driver's timeout kills the sbt wrapper,
    // sbt appends two ~55-char "[error] Nonzero exit code" lines AFTER
    // our last checkpoint — the line must fit the captured tail WITH
    // that trailing noise (measured in the r8 kill rehearsal).
    // Last resort when the pinned keys alone overflow the window: drop
    // the advisory mx/ov fields — they live in the detail sidecar —
    // before ever letting the line exceed the tail budget.
    def fitLine(partial: Boolean): String =
      Seq(0.0, 0.1, 0.25, 0.5, 1.0).view.map(buildLine(_, partial))
        .find(_.length <= 1750)
        .orElse(Seq(buildLine(2.0, partial, spreadFields = false))
          .find(_.length <= 1750))
        .getOrElse(buildLine(2.0, partial))
    def refreshProvisional(): Unit = provisionalLine.set(fitLine(partial = true))
    // Belt-and-braces for SIGTERM (the driver's soft kill): print the
    // provisional line as the process's last output. Registered below
    // SparkContext's stop priority (50) so it runs after Spark's own
    // teardown; logging is already OFF for the whole run. A SIGKILL
    // skips every hook — the periodic checkpoint prints cover that.
    org.apache.spark.sql.graft.GraftShutdownHooks.add(priority = 1) {
      if (!finalPrinted.get() && provisionalLine.get.nonEmpty) {
        println(provisionalLine.get)
        System.out.flush()
      }
    }
    refreshProvisional()

    // ---- detail sidecar ----------------------------------------------
    // FULL detail — every number the compact tail cannot carry (full
    // query names, min/median/mean/max/n/cpu_frac, bytes + cost, the
    // mor_tax curve, overhead probe times). Written via temp file +
    // ATOMIC_MOVE and length-asserted, REWRITTEN after every completed
    // section, so even a killed bench leaves a valid sidecar carrying
    // everything finished so far.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "bench_detail.json")
    var morTaxNow = "{}"
    var ovhNow = (0.0, 0.0)
    var ovhLateNow = (0.0, 0.0)
    def writeDetailSidecar(): Unit = try {
      val sidecarStats = okNow.map { case (k, st) =>
        "\"" + k + "\":{" +
          f""""min":${st.min}%.3f,"median":${st.median}%.3f,"mean":${st.mean}%.3f,""" +
          f""""max":${st.max}%.3f,"n":${st.its.size},"cpu_frac":${st.cpuFrac}%.3f,""" +
          f""""input":${st.input},"shuffle":${st.shuffle},"cpu_sec":${st.cpuSec}%.3f,""" +
          f""""est_cost_usd":${estCost(st)}%.6f}"""
      }.mkString("{", ",", "}")
      val payload = (s"""{"queries":$sidecarStats,""" +
        s""""mor_tax":$morTaxNow,""" +
        f""""overhead":{"raw_s":${ovhNow._1}%.3f,"graft_s":${ovhNow._2}%.3f},""" +
        f""""overhead_late":{"raw_s":${ovhLateNow._1}%.3f,"graft_s":${ovhLateNow._2}%.3f},""" +
        s""""sf":"$sfDir","iters":$iters}""").getBytes("UTF-8")
      val target = java.nio.file.Paths.get(detailPath).toAbsolutePath
      val tmp = java.nio.file.Files.createTempFile(
        target.getParent, ".bench_detail", ".tmp")
      java.nio.file.Files.write(tmp, payload)
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val written = java.nio.file.Files.size(target)
      require(written == payload.length,
        s"detail sidecar $written bytes, expected ${payload.length}")
    } catch { case e: Throwable =>
      progress(s"detail write failed: ${e.getMessage}")
    }

    // ---- checkpoint: the crash-survival primitive --------------------
    // Refresh the provisional line, rewrite the sidecar, and PRINT the
    // cumulative line to stdout. The driver's tail therefore always ends
    // with the most complete record, no matter when the process dies.
    def checkpoint(): Unit = {
      refreshProvisional()
      writeDetailSidecar()
      println(provisionalLine.get)
      System.out.flush()
    }

    // ---- headline loop -----------------------------------------------
    var lastCkpt = System.nanoTime()
    queries.foreach { name =>
      progress(s"timing $name")
      listener.reset()
      var failed = false
      // The scope closes after the Iter is taken: deleting the query's
      // scratch is outside the timed region.
      def once(): Iter = Scratch.scope {
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        try { SparkEntry.queries(name)(spark, sfDir).count() }
        catch { case e: Throwable =>
          failed = true
          progress(s"$name FAILED: ${e.getMessage}")
        }
        val t = (System.nanoTime() - t0) / 1e9
        // Cached blocks are never reused across fresh invocations — any
        // query-internal caching would be pure storage-memory pressure on
        // the next query (the r2 bench collapsed to 4-10× under exactly
        // that), so drop them between iterations defensively.
        spark.catalog.clearCache()
        Iter(t, (osBean.getProcessCpuTime - c0) / 1e9, osBean.getSystemLoadAverage)
      }
      var its = Vector.tabulate(iters)(_ => once())
      var extra = 0
      while (extra < extraIters && !failed &&
          its.map(_.sec).max > 2.0 * its.map(_.sec).min) {
        progress(f"$name spread ${its.map(_.sec).max}%.1f/" +
          f"${its.map(_.sec).min}%.1f s — re-timing (exogenous-load suspect)")
        its :+= once()
        extra += 1
      }
      Thread.sleep(150) // let straggler task-end events drain (metrics are advisory)
      results += (name -> QStats(its, listener.input.get() / its.size,
        listener.shuffleWrite.get() / its.size,
        listener.cpuNs.get() / its.size / 1e9, failed))
      if ((System.nanoTime() - lastCkpt) / 1e9 > 45.0) {
        checkpoint()
        lastCkpt = System.nanoTime()
      }
    }
    val headlineWallS = (System.nanoTime() - headlineT0) / 1e9
    // Pace factor: how much slower this box+run is than the clean-box
    // estimate for the same (warmup + headline) work. Every section
    // estimate below is multiplied by it, so a loaded driver box
    // attempts proportionally less and still finishes inside the
    // deadline. Never below 1 — a fast box keeps conservative gates.
    val expectHeadlineS = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_EXPECT_HEADLINE_S", "700").toDouble *
      (queries.size.toDouble / math.max(headline.size, 1))
    val slow = math.max(1.0, headlineWallS / math.max(expectHeadlineS, 1.0))
    progress(f"headline done: ${results.size} queries in $headlineWallS%.0f s " +
      f"(pace x$slow%.2f vs clean-box estimate)")

    val ok = okNow
    csvPath.foreach { path =>
      val rows = "query,iteration,seconds,proc_cpu_sec,sys_load,input_bytes,shuffle_bytes,cpu_sec" +:
        results.toSeq.flatMap { case (k, st) =>
          st.its.zipWithIndex.map { case (it, i) =>
            f"$k,${i + 1},${it.sec}%.4f,${it.procCpuSec}%.3f,${it.sysLoad}%.2f,${st.input},${st.shuffle},${st.cpuSec}%.3f" }
        }
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        rows.mkString("\n").getBytes("UTF-8"))
      progress(s"wrote $path")
    }
    // Per-query byte/mean/stat detail goes on its own EARLIER stdout
    // lines (the last line stays the compact contract the driver parses;
    // a checkpoint follows immediately so the tail ends compact).
    val bytes = ok.map { case (k, st) =>
      "\"" + k +
        f"""\":{"input":${st.input},"shuffle":${st.shuffle},"cpu_sec":${st.cpuSec}%.3f,"est_cost_usd":${estCost(st)}%.6f}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"bytes_detail","bytes":$bytes}""")
    val means = ok.map { case (k, st) => "\"" + k + f"\":${st.mean}%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"mean_detail","iters":$iters,"queries":$means}""")
    val stats = ok.map { case (k, st) =>
      "\"" + k + "\":{" +
        f""""min":${st.min}%.3f,"median":${st.median}%.3f,"mean":${st.mean}%.3f,""" +
        f""""max":${st.max}%.3f,"n":${st.its.size},"cpu_frac":${st.cpuFrac}%.3f,""" +
        f""""max_load":${st.its.map(_.sysLoad).max}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stats_detail","queries":$stats}""")
    checkpoint()

    // ---- sections, in priority order, each budget-gated --------------
    // Clean-box second estimates; a section runs only when
    // est × pace × 1.2 + 90 s of final-write margin fits the remaining
    // budget. Order encodes what the record must carry first: the
    // snapshot-layer overhead probe, the MoR read tax, then the overhead
    // probe again on the aged session.
    def section(name: String, estCleanS: Double)(body: => Unit): Unit = {
      val need = estCleanS * slow * 1.2 + 90
      val rem = remainingS()
      if (rem < need) {
        progress(f"$name SKIPPED: $rem%.0f s left < $need%.0f s needed")
      } else {
        val t0 = System.nanoTime()
        try body
        catch { case e: Throwable =>
          progress(s"$name section failed: ${e.getMessage}")
        }
        progress(f"$name done in ${(System.nanoTime() - t0) / 1e9}%.0f s")
      }
      checkpoint()
    }

    // Snapshot-layer overhead vs raw parquet (BASELINE.md "Our BENCH
    // target": the snapshot layer should cost ≤~20% over raw Parquet
    // scans). Apples-to-apples by construction: the graft table ADOPTS
    // the same parquet file in place (add_files, zero copy), so both
    // sides read identical bytes — the delta is manifest planning + the
    // DSv2 scan path. The probe aggregates a non-pushable SUM so the
    // metadata-aggregate shortcut cannot fake the graft side. Runs
    // right after the headline queries, so it measures the layer; the
    // same probe re-runs after mor_tax into overhead_late (session-age
    // entropy tracking — see SURVEY §6).
    def runOverheadProbe(): (Double, Double) = try Scratch.scope {
      val li = s"$sfDir/lineitem.parquet"
      val (wh, cat) = Scratch.catalog(spark)
      val store = new graft.core.TableStore(spark, wh)
      store.addFiles("li", li)
      def probe(from: String): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(("SELECT l_returnflag, COUNT(*) AS n, " +
          "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q FROM %s " +
          "GROUP BY l_returnflag").format(from)).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      val raw = probe(s"parquet.`$li`")
      val viaStore = probe(s"$cat.ns.li")
      (raw, viaStore)
    } catch { case e: Throwable =>
      progress(s"overhead probe failed: ${e.getMessage}")
      (0.0, 0.0)
    }
    section("overhead", estCleanS = 15) {
      ovhNow = runOverheadProbe()
      overheadJsonRef.set(if (ovhNow._1 <= 0) ""
        else f""","ovh":${ovhNow._2 / ovhNow._1}%.2f""")
    }

    // MoR read-tax curve (the number a CDC user asks first): SELECT cost
    // over one table as equality-delete keys accumulate 0 → 1k → 10k →
    // 100k, then after CALL compact — each probe is the same non-pushable
    // aggregate through the SQL catalog read (broadcast delete filter on
    // the MoR path), min of 5 (r8: min-of-3 on the co-tenant driver box
    // read the d1000/d10000 mid-curve 1.7x the clean record; two more
    // probes cost ~2 s and buy reproducibility within 1.3x). Detail-
    // sidecar only; delete tiers are capped at half the table so small
    // fixtures stay meaningful.
    section("mor_tax", estCleanS = 150) {
      if (!sys.env.contains("SPARK_GRAFT_SKIP_MORTAX")) Scratch.scope {
        val (wh, cat) = Scratch.catalog(spark)
        val store = new graft.core.TableStore(spark, wh)
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(org.apache.spark.sql.functions.col("l_orderkey"),
            org.apache.spark.sql.functions.col("l_linenumber"),
            org.apache.spark.sql.functions.col("l_quantity"))
          .withColumn("rk", org.apache.spark.sql.functions.concat_ws(":",
            org.apache.spark.sql.functions.col("l_orderkey"),
            org.apache.spark.sql.functions.col("l_linenumber")))
        store.commit("mt", li, "create")
        val total = li.count()
        def probe(): Double = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          spark.sql("SELECT COUNT(*) AS n, SUM(CAST(l_quantity AS " +
            s"DECIMAL(18,2))) AS q FROM $cat.ns.mt").collect()
          (System.nanoTime() - t0) / 1e9
        }.min
        val tiers = Seq(1000L, 10000L, 100000L).filter(_ <= total / 2)
        val maxN = tiers.lastOption.getOrElse(0L)
        val ranked = li.select(org.apache.spark.sql.functions.col("rk"))
          .orderBy("rk").limit(maxN.toInt)
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("rk")))
        probe() // unrecorded warmup: the first catalog read pays codegen
        var prev = 0L
        val points = (f""""d0":${probe()}%.3f""" +: tiers.map { n =>
          store.deleteKeysMoR("mt", ranked
            .filter(org.apache.spark.sql.functions.col("rn") > prev &&
              org.apache.spark.sql.functions.col("rn") <= n)
            .select("rk"), Seq("rk"))
          prev = n
          f""""d$n":${probe()}%.3f"""
        }) :+ {
          store.compact("mt")
          f""""compacted":${probe()}%.3f"""
        }
        morTaxNow = points.mkString("{", ",", "}")
        progress(s"mor_tax $morTaxNow")
      }
    }

    // Second overhead probe, after mor_tax has aged the session (its
    // catalog, commits and compaction): r8 observed the GRAFT side alone
    // degrade late in a run while raw parquet stayed flat — session-age
    // entropy in the DSv2 path, not scan-layer cost. Kept in the sidecar
    // as overhead_late to track.
    section("overhead_late", estCleanS = 15) {
      ovhLateNow = runOverheadProbe()
    }

    val line = fitLine(partial = false)
    progress(s"final line ${line.length} chars" +
      (if (line.length > 1750) " — OVER the tail budget!" else ""))
    // The final JSON line must be the LAST output this process ever
    // emits. Logging has been OFF since startup; stop Spark first (its
    // teardown can still print to stderr through non-log4j channels),
    // THEN print and flush.
    try spark.stop() catch { case _: Throwable => () }
    println(line)
    System.out.flush()
    finalPrinted.set(true)
    if (progressWriter != null) progressWriter.close()
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
