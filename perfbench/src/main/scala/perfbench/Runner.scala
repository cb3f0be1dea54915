package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One closed-loop operation. `run` is the only timed part. `expected` is
  * the model's answer, compared after the timer stops; `check`, when
  * given, replaces that comparison and returns a reason for a wrong
  * answer; `after` updates the model once the operation succeeded, also
  * untimed, with the operation id and the answer. `resultRows` gives the
  * number of rows a read's answer holds. */
final case class Step(kind: Step.Kind, name: String, run: () => Any,
    expected: Option[Any] = None, check: Option[Any => Option[String]] = None,
    deltaRows: Long = 0L, deltaBytes: Long = 0L,
    resultRows: Any => Long = _ => 0L, after: (Int, Any) => Unit = (_, _) => ())

object Step {
  sealed trait Kind
  case object Read extends Kind
  case object Write extends Kind
  /** Compaction and snapshot expiry: operations, but not delta writes. */
  case object Maint extends Kind

  /** The reason `got` is a wrong answer for `s`, if it is one. */
  def verdict(s: Step, got: Any): Option[String] = s.check match {
    case Some(f) => f(got)
    case None => s.expected.filter(_ != got).map(exp => s"answered $got, model says $exp")
  }
}

/** A benchmark workload: seeded inputs, tables, and a model of what the
  * tables must hold. */
trait Workload {
  def name: String
  /** Nominal wall seconds of one [[round]] on four CPUs; the number of
    * measured rounds is `seconds / roundSeconds`, rounded. */
  def roundSeconds: Double
  /** Readies copy `tag`, untimed: discards the previous copy, resets the
    * model and stages what [[load]] reads. The last copy prepared is the
    * one later steps use. */
  def prepare(tag: String): Unit
  /** Builds the prepared copy's tables through the program: the work that
    * `setup_s` times. */
  def load(): Unit
  /** Steps that open the measured window, timed like any other. */
  def firstSteps(): Seq[() => Step]
  /** One round of the workload's fixed operation mix. Each step is drawn
    * from the model as it stands after every earlier step, so the thunks
    * run in order, one at a time. */
  def round(): Seq[() => Step]
  /** Steps that close the run, timed like any other. */
  def finalSteps(): Seq[() => Step]
  /** The warm-up's steps: every kind of operation the window holds. */
  def warmup(): Seq[() => Step]
  /** End-of-run checks against the model: failures as (op id, reason). */
  def check(lastWriteOp: Int): Seq[(Int, String)]
  /** Directory of the table the writes change, and the bytes of the data
    * files in its current snapshot. */
  def tableDir: Path
  def snapshotDataBytes: Long
  /** Current version of the table the writes change. */
  def version: Long
  /** Layer metrics only the workload can see, for the traced operations,
    * as (name, value, unit). */
  def layerMetrics(traced: Set[Int], ops: Seq[OpTime], tracer: Tracer): Seq[(String, Double, String)]
  /** Context-line fields only the workload can see. */
  def context: Seq[(String, Any)] = Nil
}

/** Sums the sizes of files that appear (or are rewritten) under a
  * directory between two scans. */
final class WriteMeter(root: Path) {
  private val seen = mutable.Set[(String, Long, Long)]()
  private def files: Seq[(String, Long, Long)] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toSeq
  def reset(): Unit = { seen.clear(); seen ++= files }
  def newBytes(): Long = {
    val fresh = files.filterNot(seen.contains)
    seen ++= fresh
    fresh.map(_._2).sum
  }
}

final case class OpTime(id: Int, name: String, kind: Step.Kind, seconds: Double, cpu: Double)

object Runner {
  /** Progress goes to standard error; standard output carries results. */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], info: Seq[(String, Any)])

  /** The longest wait for the JIT compilers after the warm-up. */
  private val DrainSeconds = 5.0
  private val DrainPollMs = 200L
  private val DrainQuietPolls = 3

  def run(wl: Workload, seconds: Int, trace: Option[Tracer],
      setupReps: Int, cpus: Int, sessionS: Double, maxSeconds: Double): Result = {
    val tCold = System.nanoTime(); wl.prepare("cold"); wl.load()
    val coldBuildS = (System.nanoTime() - tCold) / 1e9
    log(f"cold build: $coldBuildS%.2f s")

    // warm-up: the workload's whole operation mix, once, on the cold copy;
    // the measured copy is built afresh below, so the warm-up never
    // changes the measured state
    val tw = System.nanoTime()
    val jitWarm0 = Jvm.jitMs
    val cpuWarm0 = AppCpu.snapshot()
    wl.warmup().foreach { f =>
      val s = f()
      s.after(0, s.run())
    }
    val warmJitS = (Jvm.jitMs - jitWarm0) / 1000.0
    val warmCpuS = AppCpu.since(cpuWarm0) / 1e9
    log(f"warm-up: jit $warmJitS%.2f s, cpu $warmCpuS%.2f s")
    // then let the compiler threads work off the queue the warm-up left,
    // until compilation runs at under a fifth of one CPU
    val td = System.nanoTime()
    val jitAtDrain = Jvm.jitMs
    var last = jitAtDrain
    var quietPolls = 0
    while (quietPolls < DrainQuietPolls && (System.nanoTime() - td) / 1e9 < DrainSeconds) {
      Thread.sleep(DrainPollMs)
      val now = Jvm.jitMs
      quietPolls = if (now - last < DrainPollMs / 5) quietPolls + 1 else 0
      last = now
    }
    val drainS = (System.nanoTime() - td) / 1e9
    val drainJitS = (Jvm.jitMs - jitAtDrain) / 1000.0
    log(f"JIT drain: $drainS%.2f s, jit $drainJitS%.2f s")
    val warmupS = (System.nanoTime() - tw) / 1e9

    // set-up is measured warm: several from-scratch builds, the last of
    // which is the measured copy; only the program's loading is timed
    val setupTimes = (1 to setupReps).map { rep =>
      wl.prepare(s"m$rep")
      val t0 = System.nanoTime(); wl.load()
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup $rep: $s%.2f s")
      s
    }
    // heap is read after a full collection at two quiet points: before the
    // window and after its last operation
    val heapBefore = Jvm.oldGenAfterFullGc

    val tally = new Tally
    val meter = new WriteMeter(wl.tableDir)
    meter.reset()
    val ops = mutable.ArrayBuffer[OpTime]()
    // CPU and wall seconds by kind, which is the operation's name: a read
    // kind is a query, a write kind an operation at one update proportion
    // (scd2_simple@0.01), so each kind's samples cost alike
    val readsCpuByKind, readsByKind, writesCpuByKind, writesByKind =
      mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var deltaRows, deltaBytes, bytesWritten = 0L
    var opId = 0
    var lastWrite = 0
    val seenReads = mutable.Map[String, Int]().withDefaultValue(0)
    val readKindIndex = mutable.Map[String, Int]()
    val resultRows = mutable.Map[Int, Long]()
    var tracedCommits = 0L

    def runStep(step: Step): Unit = {
      opId += 1
      val id = opId
      if (step.kind != Step.Read) lastWrite = id
      // a traced run traces every write and every other read of each kind,
      // starting with the first read of every other kind, so a pass holds
      // traced and untraced reads alike; the untraced reads measure the
      // tracer's overhead
      val traced = trace.isDefined && (step.kind != Step.Read || {
        val k = readKindIndex.getOrElseUpdate(step.name, readKindIndex.size)
        seenReads(step.name) += 1
        (seenReads(step.name) + k) % 2 == 1
      })
      tally.attempt()
      val v0 = if (traced) wl.version else 0L
      trace.foreach(t => t.beginOp(id, traced, t.nowMs))
      val w0 = trace.map(_.nowMs).getOrElse(0.0)
      val c0 = AppCpu.snapshot()
      val t0 = System.nanoTime()
      val answer = try Right(trace match {
        case Some(t) => t.span(s"op ${step.name}", "harness")(step.run())
        case None => step.run()
      }) catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = AppCpu.since(c0) / 1e9
      trace.foreach(t => t.endOp(id, w0, t.nowMs))
      if (traced) tracedCommits += wl.version - v0
      ops += OpTime(id, step.name, step.kind, dt, cpu)
      log(f"op $id ${step.name}: $dt%.3f s, cpu $cpu%.3f s${if (answer.isLeft) " FAILED" else ""}")
      def add(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]], k: String, v: Double) =
        m.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
      step.kind match {
        case Step.Read =>
          add(readsCpuByKind, step.name, cpu); add(readsByKind, step.name, dt)
          answer.foreach(got => resultRows(id) = step.resultRows(got))
        case _ =>
          if (step.deltaRows > 0) {
            add(writesCpuByKind, step.name, cpu); add(writesByKind, step.name, dt)
          }
          deltaRows += step.deltaRows; deltaBytes += step.deltaBytes
          bytesWritten += meter.newBytes()
      }
      answer match {
        case Left(e) => tally.fail(id, s"${step.name} threw ${e.toString.take(300)}")
        case Right(got) =>
          Step.verdict(step, got).foreach(why => tally.fail(id, s"${step.name} $why"))
          step.after(id, got)
      }
    }

    val rounds = Stats.roundsFor(seconds, wl.roundSeconds)
    val gc0 = Jvm.gcMs; val cpu0 = Jvm.processCpuNs; val jit0 = Jvm.jitMs; val ticks0 = Host.cpuTicks
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var truncated = false
    wl.firstSteps().foreach(f => runStep(f()))
    (1 to rounds).foreach { _ =>
      wl.round().foreach { f =>
        if (elapsed < maxSeconds) runStep(f()) else truncated = true
      }
    }
    wl.finalSteps().foreach(f => runStep(f()))
    val windowS = elapsed
    val gcMs = Jvm.gcMs - gc0; val cpuNs = Jvm.processCpuNs - cpu0; val jitMs = Jvm.jitMs - jit0
    val stealFrac = Host.stealFrac(ticks0, Host.cpuTicks)
    val heapAfter = Jvm.oldGenAfterFullGc
    val heapPeak = math.max(heapBefore, heapAfter)

    val tc = System.nanoTime()
    wl.check(lastWrite).foreach { case (id, why) => tally.fail(id, why) }
    log(f"checks: ${(System.nanoTime() - tc) / 1e9}%.2f s")

    def p50(byKind: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]) =
      if (byKind.isEmpty) Double.NaN else Stats.meanOfMedians(byKind.values.map(_.toSeq).toSeq)
    val readCpu = Stats.timing(ops.filter(_.kind == Step.Read).map(_.cpu).toSeq)
    val readWall = Stats.timing(ops.filter(_.kind == Step.Read).map(_.seconds).toSeq)
    val enough = readCpu.isDefined && writesCpuByKind.nonEmpty && !truncated
    val opsCpuS = ops.map(_.cpu).sum
    val diskBytes = dirBytes(wl.tableDir)
    val dataBytes = wl.snapshotDataBytes

    val endToEnd = Seq(
      ("setup_s", Stats.median(setupTimes), "s"),
      ("read_cpu_p50_s", p50(readsCpuByKind), "cpu_s"),
      ("read_cpu_tail_s", readCpu.map(_.tail).getOrElse(Double.NaN), "cpu_s"),
      ("write_cpu_p50_s", p50(writesCpuByKind), "cpu_s"),
      ("ops_per_cpu_s", ops.size / opsCpuS, "1/cpu_s"),
      ("write_amp", bytesWritten.toDouble / deltaBytes, "ratio"),
      ("space_amp", diskBytes.toDouble / dataBytes, "ratio"),
      ("heap_peak_mb", heapPeak / 1048576.0, "MB"))

    val perLayer = trace.map { t =>
      t.drain()
      layerMetrics(t, wl, ops.toSeq, resultRows.toMap, windowS, gcMs, jitMs, cpuNs, cpus,
        bytesWritten, tracedCommits)
    }

    val info = Seq(
      "workload" -> wl.name, "seconds" -> seconds, "rounds" -> rounds, "truncated" -> truncated,
      "cold_session_s" -> sessionS, "cold_build_s" -> coldBuildS,
      "warmup_s" -> warmupS, "warmup_jit_s" -> warmJitS, "warmup_op_cpu_s" -> warmCpuS,
      "jit_drain_s" -> drainS, "jit_drain_jit_s" -> drainJitS,
      "setup_reps_s" -> setupTimes,
      "reads" -> readsCpuByKind.values.map(_.size).sum, "read_kinds" -> readsCpuByKind.size,
      "writes" -> ops.count(_.kind == Step.Write), "maint" -> ops.count(_.kind == Step.Maint),
      "delta_writes" -> writesCpuByKind.values.map(_.size).sum,
      "read_tail_percentile" -> readCpu.map(_.tailP).getOrElse(Double.NaN),
      "window_s" -> windowS, "window_jit_s" -> jitMs / 1000.0, "window_gc_s" -> gcMs / 1000.0,
      "window_process_cpu_s" -> cpuNs / 1e9, "window_op_cpu_s" -> opsCpuS,
      "jit_share" -> jitMs / 1000.0 / (cpuNs / 1e9),
      "host_steal_frac" -> stealFrac,
      "wall_ops_per_s" -> ops.size / ops.map(_.seconds).sum,
      "wall_read_p50_s" -> p50(readsByKind), "wall_read_tail_s" -> readWall.map(_.tail).getOrElse(Double.NaN),
      "wall_write_p50_s" -> p50(writesByKind),
      "delta_rows" -> deltaRows, "delta_bytes" -> deltaBytes, "bytes_written" -> bytesWritten,
      "disk_bytes" -> diskBytes, "snapshot_data_bytes" -> dataBytes,
      "heap_before_mb" -> heapBefore / 1048576.0, "heap_after_mb" -> heapAfter / 1048576.0,
      "error_rate" -> tally.errorRate, "failures" -> tally.reasons.take(20),
      "op_cpu_s" -> ListMap(ops.groupBy(_.name).toSeq.sortBy(_._2.head.id).map { case (n, xs) =>
        n -> xs.map(x => math.rint(x.cpu * 1e4) / 1e4) }: _*)) ++ wl.context
    // a metric that could not be measured reads 0 and fails the run
    val metrics = perLayer.getOrElse(endToEnd)
    val measured = metrics.forall(m => java.lang.Double.isFinite(m._2))
    Result(tally.failed == 0 && enough && measured, tally.attempted, tally.failed,
      metrics.map { case (n, v, u) => (n, if (java.lang.Double.isFinite(v)) v else 0.0, u) }, info)
  }

  private def layerMetrics(t: Tracer, wl: Workload, ops: Seq[OpTime],
      resultRows: Map[Int, Long], windowS: Double, gcMs: Long, jitMs: Long, cpuNs: Long, cpus: Int,
      bytesWritten: Long, commits: Long): Seq[(String, Double, String)] = {
    val tracedIds = ops.map(_.id).filter(t.isTraced).toSet
    val n = math.max(1, tracedIds.size).toDouble
    val perOp = math.max(1, ops.size).toDouble
    val cs = tracedIds.toSeq.flatMap(id => Option(t.counters.get(id)))
    def sum(f: OpCounters => Double) = cs.map(f).sum
    val (self, nonJob) = t.rollup()
    val spans = t.resolved()

    // time inside a layer's spans, counted once where its spans nest
    def inLayer(layers: String*): Double = spans.filter(s => layers.contains(s.layer))
      .groupBy(_.op).values.map(ss => Tracer.covered(ss.map(s => (s.start, s.end)))).sum
    def jobsInside(layer: String): Double = spans.filter(_.layer == layer).groupBy(_.op).map { case (op, ss) =>
      val jobs = spans.filter(j => j.op == op && j.layer == "spark")
      Tracer.covered(jobs.filter(j => ss.exists(s => s.start <= j.start + 1 && j.end <= s.end + 1))
        .map(j => (j.start, j.end)))
    }.sum
    val commitMs = inLayer("core.commit")
    val loads = spans.filter(_.name == Tracer.LoadTable)

    // tracing overhead: the geometric mean over read kinds of the traced
    // reads' mean CPU over the untraced reads' mean CPU, minus one
    val ratios = ops.filter(_.kind == Step.Read).groupBy(_.name).values.flatMap { xs =>
      val (tr, un) = xs.partition(x => tracedIds.contains(x.id))
      if (tr.isEmpty || un.isEmpty) None
      else Some((tr.map(_.cpu).sum / tr.size) / (un.map(_.cpu).sum / un.size))
    }
    val overhead = if (ratios.isEmpty) 0.0 else math.exp(ratios.map(math.log).sum / ratios.size) - 1
    val readIds = resultRows.keySet.intersect(tracedIds)
    val readRecords = readIds.toSeq.flatMap(id => Option(t.counters.get(id))).map(_.recordsRead).sum
    val readResult = readIds.toSeq.map(resultRows).sum
    val mb = 1048576.0
    val scanned = sum(_.scanFiles.toDouble)
    val scannable = sum(_.scanFilesTotal.toDouble)
    val scans = sum(_.scans.toDouble)

    Seq(
      ("spark.jobs", sum(_.jobs.toDouble) / n, "count/op"),
      ("spark.stages", sum(_.stages.toDouble) / n, "count/op"),
      ("spark.tasks", sum(_.tasks.toDouble) / n, "count/op"),
      ("spark.task_cpu_s", sum(_.cpuNs) / 1e9 / n, "s/op"),
      ("spark.task_gc_s", sum(_.gcMs) / 1000 / n, "s/op"),
      ("spark.sched_wait_s", sum(_.schedMs) / 1000 / n, "s/op"),
      ("spark.shuffle_write_mb", sum(_.shuffleWrite.toDouble) / mb / n, "MB/op"),
      ("spark.spill_mb", sum(_.spill.toDouble) / mb / n, "MB/op"),
      ("sql.executions", sum(_.executions.toDouble) / n, "count/op"),
      ("sql.analysis_ms", sum(_.analysisMs) / n, "ms/op"),
      ("sql.optimization_ms", sum(_.optimizationMs) / n, "ms/op"),
      ("sql.planning_ms", sum(_.planningMs) / n, "ms/op"),
      ("sql.codegen_ms", sum(_.codegenMs) / n, "ms/op"),
      ("sql.driver_s", nonJob.values.sum / 1000 / n, "s/op"),
      ("sql.rows_per_result_row", if (readResult == 0) 0.0 else readRecords.toDouble / readResult, "ratio"),
      ("catalog.load_table_ms", if (loads.isEmpty) 0.0 else loads.map(_.dur).sum / loads.size, "ms/call"),
      ("catalog.scan_files", if (scans == 0) 0.0 else scanned / scans, "count/scan"),
      ("catalog.files_pruned_frac", if (scannable == 0) 0.0 else 1 - scanned / scannable, "ratio"),
      ("catalog.delete_files_at_read", if (scans == 0) 0.0 else sum(_.deleteFilesAtRead.toDouble) / scans,
        "count/scan"),
      ("core.commits", commits / n, "count/op"),
      ("core.commit_s", commitMs / 1000 / n, "s/op"),
      ("core.commit_driver_s", math.max(0.0, commitMs - jobsInside("core.commit")) / 1000 / n, "s/op"),
      ("core.commit_retries", t.commitConflicts.toDouble / n, "count/op"),
      ("core.read_plan_s", inLayer("core.read") / 1000 / n, "s/op"),
      ("core.maint_s", inLayer("core.maint") / 1000 / n, "s/op"),
      ("core.bytes_written_mb", bytesWritten / mb / perOp, "MB/op"),
      ("jvm.gc_s", gcMs / 1000.0 / perOp, "s/op"),
      ("jvm.jit_s", jitMs / 1000.0 / perOp, "s/op"),
      ("jvm.proc_cpu_s", cpuNs / 1e9 / perOp, "s/op"),
      ("jvm.cpu_util", cpuNs / 1e9 / (windowS * cpus), "ratio"),
      ("trace.overhead_frac", overhead, "ratio"),
      ("trace.ops", tracedIds.size.toDouble, "count"),
    ) ++ Tracer.Layers.map(l => (s"self.${l.replace('.', '_')}_s", self.getOrElse(l, 0.0) / 1000 / n, "s/op")) ++
      wl.layerMetrics(tracedIds, ops, t)
  }
}
