package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only per-job and per-trigger profiler for SparkEntry queries: runs
  * each query in the bench's session ([[graft.Bench.session]]) and prints
  * every Spark job's wall time and description, plus every streaming
  * trigger's `durationMs` map (addBatch / getBatch / latestOffset /
  * queryPlanning / walCommit / commitOffsets / triggerExecution) — the
  * non-job time a job log cannot see. So the time budget of multi-job
  * queries (streaming replays, iterative fixpoints, bounded collects) can
  * be read job by job instead of guessed.
  *
  * Usage: runMain graft.tools.ProfileQuery <queryName[,name2]> [sfDir] [reps]
  */
object ProfileQuery {

  private final class JobLog extends SparkListener {
    case class J(start: Long, desc: String, var end: Long = 0L)
    val jobs = new ConcurrentHashMap[Int, J]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.put(e.jobId, J(e.time, desc))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    def reset(): Unit = jobs.clear()
    def dump(): Unit = {
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val tot = js.map { case (_, j) => j.end - j.start }.sum
      println(f"[profile] ${js.size} jobs, sum ${tot / 1e3}%.2f s")
      js.foreach { case (id, j) =>
        val d = (j.end - j.start) / 1e3
        if (d >= 0.05)
          println(f"[profile]   job $id%4d ${d}%7.2f s  ${j.desc.take(90)}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Bench.session(graft.GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[profile]   trigger batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
      // warmup at the smallest scale, as the bench does
      try graft.SparkEntry.run(spark, q, "/root/testdata/sf0.001")(_.count())
      catch { case e: Throwable => println(s"[profile] warmup failed: $e") }
      spark.catalog.clearCache()
      (1 to reps).foreach { i =>
        log.reset()
        val t0 = System.nanoTime()
        val (n, t) = graft.SparkEntry.run(spark, q, sfDir) { df =>
          (df.count(), (System.nanoTime() - t0) / 1e9)
        }
        Thread.sleep(200)
        println(f"[profile] $q run$i: $t%.2f s ($n rows)")
        log.dump()
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
