package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftExtensions
import org.apache.spark.sql.SparkSession

/** Runs one workload in a fresh JVM and prints, as its last line, the
  * result object: `correct`, `attempted`, `failed` and `metrics`. The line
  * before it records the run's context (seed, CPUs, Spark cores, heap,
  * versions, sample counts, JIT, GC and steal in the window).
  *
  * {{{
  *   Main --workload curation|derive --seed N --seconds S --trace 0|1
  *        --work DIR --fixtures DIR --queries DIR --cores N [--source ID]
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cpus = opt("cores").toInt
    // Spark runs tasks on half the CPUs. The rest go to the client thread,
    // the JIT compilers and GC; on a shared four-CPU host local[4] was
    // slower and less steady than local[2].
    val cores = math.max(1, cpus / 2)
    val work = Paths.get(opt("work")).toAbsolutePath
    val fixtures = Paths.get(opt("fixtures")).toAbsolutePath
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = if (trace) Some(new Tracer(spark)) else None
    Tracer.active = tracer
    val wl: Workload = workload match {
      case "curation" => new Curation(spark, work, fixtures, seed, tracer)
      case "derive" => new Derive(spark, work, fixtures, Paths.get(opt("queries")).toAbsolutePath, seed, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    val r = try Runner.run(wl, seconds, tracer, setupReps = SetupReps, cpus = cpus,
      sessionS = sessionS, maxSeconds = MaxWindowSeconds)
    finally tracer.foreach(_.stop())
    tracer.foreach(_.write(work.resolve(s"spans-$workload-$seed.jsonl")))

    val info = Seq("seed" -> seed, "trace" -> trace, "cpus" -> cpus, "spark_cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "source" -> opts.getOrElse("source", "unknown")) ++ r.info
    println(json(Seq("info" -> ListMap(info: _*))))
    println(json(Seq(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> ListMap(r.metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*))))
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One JSON object, fields in order; a non-finite number renders as null. */
  def json(fields: Seq[(String, Any)]): String = {
    def finite(v: Any): Any = v match {
      case d: Double if !java.lang.Double.isFinite(d) => null
      case m: ListMap[_, _] => m.map { case (k, x) => k -> finite(x) }
      case xs: Seq[_] => xs.map(finite)
      case x => x
    }
    mapper.writeValueAsString(finite(ListMap(fields: _*)))
  }

  /** Set-up repetitions per run; set-up time is their median. */
  val SetupReps = 3
  /** Hard cap on the measured window, so a slow host still ends in time. */
  val MaxWindowSeconds = 90.0
}
