package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Harness spans come from the client thread and carry
  * their parent. Spans with parent -1 float: Spark job spans and SQL
  * planning-phase spans, which arrive through listeners, and catalog
  * table loads, which run inside analysis. The rollup gives each the
  * innermost enclosing span of its operation as parent. Times are
  * wall-clock milliseconds. */
final case class Span(id: Int, name: String, layer: String, op: Int,
    parent: Int, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Per-operation counters, from Spark's listeners and the catalog. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, schedMs = 0.0
  var shuffleWrite, spill, recordsRead = 0L
  var executions = 0L
  var analysisMs, optimizationMs, planningMs, codegenMs = 0.0
  /** Table scans in executed plans over tables the catalog loaded: files
    * they read, and data and delete files in the snapshots they read. */
  var scans, scanFiles, scanFilesTotal, deleteFilesAtRead = 0L
  /** (data files, delete files) of the snapshot the catalog last loaded,
    * by table name as the plan shows it. */
  val loaded = mutable.Map[String, (Int, Int)]()
}

/** The traced mode: spans around the harness's calls into each layer, plus
  * counters from Spark's public listeners and the JVM's MXBeans.
  *
  * Only operations started with [[beginOp]]`(traced = true)` are recorded:
  * the operation id travels to Spark jobs as a local property, and events
  * for jobs without it return at once, so untraced operations in the same
  * run measure the tracer's overhead. Spans stay in memory until the run
  * ends. */
final class Tracer(spark: SparkSession) {
  private val OpProp = "perfbench.op"
  private val wallBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  @volatile private var currentOp = -1
  @volatile private var currentOpStartMs = Double.MaxValue
  private val tracedOps = mutable.LinkedHashSet[Int]()
  private val opWindows = mutable.Map[Int, (Double, Double)]()
  val counters = new ConcurrentHashMap[Int, OpCounters]()
  private def countersOf(op: Int): OpCounters =
    counters.computeIfAbsent(op, _ => new OpCounters)

  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobStarts = new ConcurrentHashMap[Int, (Int, Double)]()
  private val lastEventMs = new AtomicLong(0L)
  private val conflicts = new AtomicLong(0L)

  /** Starts operation `op` at `startMs`; only a traced one is recorded. */
  def beginOp(op: Int, traced: Boolean, startMs: Double): Unit = {
    if (traced) {
      currentOpStartMs = startMs
      currentOp = op
      tracedOps += op
      spark.sparkContext.setLocalProperty(OpProp, op.toString)
    } else {
      currentOp = -1
      spark.sparkContext.setLocalProperty(OpProp, null)
    }
  }

  def endOp(op: Int, startMs: Double, endMs: Double): Unit = {
    if (currentOp == op) opWindows.synchronized { opWindows(op) = (startMs, endMs) }
    currentOp = -1
    currentOpStartMs = Double.MaxValue
    spark.sparkContext.setLocalProperty(OpProp, null)
  }

  def isTraced(op: Int): Boolean = tracedOps.contains(op)

  /** Records a span around `body` when the current operation is traced. */
  def span[A](name: String, layer: String)(body: => A): A = timed(name, layer, floating = false)(body)

  /** A span whose parent the rollup finds by time (see [[Span]]). */
  def floatingSpan[A](name: String, layer: String)(body: => A): A = timed(name, layer, floating = true)(body)

  private def timed[A](name: String, layer: String, floating: Boolean)(body: => A): A = {
    val op = currentOp
    if (op < 0) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      if (!floating) stack.set(id :: parents)
      val t0 = nowMs
      try body
      finally {
        if (!floating) stack.set(parents)
        spans.add(Span(id, name, layer, op, if (floating) -1 else parents.headOption.getOrElse(0), t0, nowMs))
      }
    }
  }

  /** The spans recorded so far for operation `op`, unresolved. */
  def spansOf(op: Int): Seq[Span] = spans.asScala.filter(_.op == op).toSeq

  /** Records the snapshot the catalog loaded for `table` in the current
    * operation, if it is traced. */
  def tableLoaded(table: String, dataFiles: Int, deleteFiles: Int): Unit = {
    val op = currentOp
    if (op >= 0) {
      val c = countersOf(op)
      c.synchronized { c.loaded(table) = (dataFiles, deleteFiles) }
    }
  }

  /** Counts a lost compare-and-swap commit of the current traced
    * operation: one the table layer retries. */
  def commitConflict(): Unit = if (currentOp >= 0) conflicts.incrementAndGet()
  def commitConflicts: Long = conflicts.get

  private def opOf(props: Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(_.toInt).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      if (op >= 0) {
        lastEventMs.set(System.currentTimeMillis())
        jobStarts.put(e.jobId, (op, e.time.toDouble))
        e.stageIds.foreach(s => stageOp.put(s, op))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (op, t0) =>
        lastEventMs.set(System.currentTimeMillis())
        spans.add(Span(nextId.getAndIncrement(), s"job ${e.jobId}", "spark", op, -1,
          t0, e.time.toDouble))
        val c = countersOf(op)
        c.synchronized { c.jobs += 1 }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
        val c = countersOf(op)
        c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        lastEventMs.set(System.currentTimeMillis())
        val m = e.taskMetrics
        val c = countersOf(op)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            // the Spark UI's scheduler delay
            c.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              e.taskInfo.gettingResultTime)
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.diskBytesSpilled
            c.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Files behind an input partition, looking through wrappers such as
    * the merge-on-read scan's (a non-file partition counts one). */
  private def partitionFiles(p: Any): Long = p match {
    case fp: FilePartition => fp.files.length.toLong
    case w: Product => w.productIterator.collectFirst { case i: InputPartition => partitionFiles(i) }.getOrElse(1L)
    case _ => 1L
  }

  /** (table name, files read) of each scan in an executed plan. */
  private def scansOf(plan: SparkPlan): Seq[(String, Long)] =
    PlanWalk.collect(plan) {
      case s: FileSourceScanExec =>
        (s.tableIdentifier.map(_.unquotedString).getOrElse(""),
          s.metrics.get("numFiles").map(_.value).getOrElse(0L))
      case b: BatchScanExec => (b.table.name(), b.inputPartitions.map(partitionFiles).sum)
    }

  /** The operation a listener event belongs to, by time: operations run
    * one at a time on one client. */
  private def opAt(startMs: Double): Int = opWindows.synchronized {
    opWindows.collectFirst { case (o, (s, e)) if s <= startMs && startMs <= e => o }
  }.getOrElse(if (startMs >= currentOpStartMs) currentOp else -1)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.isEmpty) return
      val op = opAt(phases.values.map(_.startTimeMs).min.toDouble)
      if (op < 0) return
      lastEventMs.set(System.currentTimeMillis())
      val c = countersOf(op)
      val scans = try scansOf(qe.executedPlan) catch { case _: Exception => Nil }
      c.synchronized {
        c.executions += 1
        def ms(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        scans.foreach { case (table, files) =>
          c.loaded.get(table).foreach { case (data, deletes) =>
            c.scans += 1
            c.scanFiles += files
            c.scanFilesTotal += data
            c.deleteFilesAtRead += deletes
          }
        }
      }
      phases.foreach { case (p, s) =>
        spans.add(Span(nextId.getAndIncrement(), s"sql $p", "sql", op, -1,
          s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Whole-stage code generation time, from the code generator's log line
    * ("Code generated in <ms> ms"), given to the operation running then. */
  private val codegenAppender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    private val Ms = """Code generated in ([0-9.]+) ms""".r.unanchored
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Ms(ms) =>
        val op = currentOp
        if (op >= 0) {
          val c = countersOf(op)
          c.synchronized { c.codegenMs += ms.toDouble }
        }
      case _ =>
    }
  }
  private val codegenLogger = LogManager.getLogger(Tracer.CodegenLogger).asInstanceOf[CoreLogger]
  private val codegenLevel = codegenLogger.getLevel
  private val codegenAdditive = codegenLogger.isAdditive

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  codegenAppender.start()
  codegenLogger.addAppender(codegenAppender)
  codegenLogger.setAdditive(false)
  codegenLogger.setLevel(Level.INFO)

  /** Waits until the listener bus has been quiet for half a second. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    Thread.sleep(200)
    while (System.currentTimeMillis() - lastEventMs.get < 500 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    codegenLogger.removeAppender(codegenAppender)
    codegenLogger.setLevel(codegenLevel)
    codegenLogger.setAdditive(codegenAdditive)
    codegenAppender.stop()
  }

  /** Every traced operation's spans with floating spans given parents: a
    * planning phase or a table load hangs under the innermost harness
    * span enclosing it, a job under the innermost span of any kind. */
  def resolved(): Seq[Span] =
    spans.asScala.toSeq.filter(s => tracedOps.contains(s.op)).groupBy(_.op).values.toSeq.flatMap { ss =>
      def attach(s: Span, into: Seq[Span]): Span = {
        val encl = into.filter(h => h.id != s.id && h.start <= s.start + 1 && s.end <= h.end + 1)
        s.copy(parent = if (encl.isEmpty) 0 else encl.minBy(_.dur).id)
      }
      val harness = ss.filter(_.parent >= 0)
      val phases = ss.filter(s => s.parent < 0 && s.layer == "sql").map(attach(_, harness))
      val loads = ss.filter(s => s.parent < 0 && s.layer != "sql" && s.layer != "spark")
        .map(attach(_, harness ++ phases))
      val jobs = ss.filter(s => s.parent < 0 && s.layer == "spark").map(attach(_, harness ++ phases ++ loads))
      harness ++ phases ++ loads ++ jobs
    }

  /** Self time per layer (ms, summed over traced operations), and the
    * time of each traced operation not covered by a Spark job (ms). */
  def rollup(): (Map[String, Double], Map[Int, Double]) = {
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    val nonJob = mutable.Map[Int, Double]()
    resolved().groupBy(_.op).foreach { case (op, ss) =>
      val children = ss.groupBy(_.parent)
      ss.foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(k =>
          (math.max(k.start, s.start), math.min(k.end, s.end))).filter(k => k._2 > k._1)
        self(s.layer) += math.max(0.0, s.dur - Tracer.covered(kids))
      }
      opWindows.synchronized(opWindows.get(op)).foreach { case (s, e) =>
        val jobs = ss.filter(_.layer == "spark").map(j =>
          (math.max(j.start, s), math.min(j.end, e))).filter(k => k._2 > k._1)
        nonJob(op) = math.max(0.0, (e - s) - Tracer.covered(jobs))
      }
    }
    (self.toMap, nonJob.toMap)
  }

  /** Writes the traced spans as JSON lines to `path`. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = resolved().sortBy(_.start).map(s => Main.json(Seq("id" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** The tracer of a traced run, for code Spark instantiates itself. */
  @volatile var active: Option[Tracer] = None

  /** Span layers, for the self-time rollup. */
  val Layers: Seq[String] = Seq("harness", "curation", "core.read", "core.commit",
    "core.maint", "catalog", "sql", "spark")

  /** Name of the spans around the catalog's table loads. */
  val LoadTable = "GraftCatalog.loadTable"

  val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Length of the union of `intervals`. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

/** Process-wide JVM readings. */
object Jvm {
  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Old-generation bytes in use after a full collection. The pause lets
    * the threads that act on the first collection (Spark's context
    * cleaner, which drops unreferenced broadcast and shuffle blocks, and
    * the JDK's cleaners) finish before the second collection frees what
    * they released, so the reading does not depend on their timing. */
  def oldGenAfterFullGc: Long = {
    System.gc()
    Thread.sleep(SettleMs)
    System.gc()
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  private val SettleMs = 300L

  /** Time the JIT compilers have spent so far, summed over their threads. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
}

/** CPU time of the JVM's Java threads: the client thread, Spark's task
  * threads and its scheduler and service threads. It leaves out the JIT
  * compiler and GC threads, which are not Java threads, and, on a kernel
  * that accounts steal time, the time the hypervisor gave to other
  * guests. A thread that ends between two readings takes its time with it.
  */
object AppCpu {
  private val mx = ManagementFactory.getThreadMXBean match {
    case m: com.sun.management.ThreadMXBean if m.isThreadCpuTimeSupported =>
      m.setThreadCpuTimeEnabled(true); m
    case _ => sys.error("per-thread CPU time is not supported by this JVM")
  }

  /** CPU nanoseconds so far, by thread id. */
  def snapshot(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    ids.zip(mx.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU nanoseconds the live threads spent since `before`; a thread
    * started since then counts from zero. */
  def since(before: Map[Long, Long]): Long =
    snapshot().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum
}

/** Host readings from /proc/stat, where the kernel provides it. */
object Host {
  /** (steal, total) CPU ticks since boot, summed over all CPUs. */
  def cpuTicks: Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { ln =>
      val f = ln.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  } catch { case _: java.io.IOException | _: NumberFormatException => None }

  /** The share of CPU time the hypervisor gave to other guests between two
    * readings: how busy the host was, not this process. */
  def stealFrac(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double = (a, b) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => Double.NaN
  }
}
