package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.catalog.GraftCatalog
import graft.core.TableStore
import org.apache.spark.sql.SparkSession

/** Dev tool: time the reference's literal 98-query TPC-DS corpus through
  * GraftCatalog over a dsdgen parquet dir (tools/gen_tpcds.py output).
  *
  * Mirrors the reference's benchmark protocol
  * (reference/src/data_derivation/query_performance/benchmark_functions.py:
  * 51-106 — N timed iterations per query file, per-query stats kept) on a
  * single JVM. Pair with tools/bench_tpcds_duckdb.py for the same-SQL
  * engine proxy at the same scale.
  *
  * Usage: runMain graft.tools.TpcdsTime <dataDir> [iters]
  * Prints one JSON line: {"queries":{q:sec,...},"total":sec,"failed":[...]}.
  */
object TpcdsTime {

  private val sqlDir =
    Paths.get("/root/reference/src/data_derivation/query_performance/sql")

  /** Ingest `dataDir` into a fresh warehouse (fact tables partitioned per
    * the reference metadata unless disabled) and time every corpus query.
    * Returns (query → best seconds, failed query names, queries NOT
    * attempted). Runs on an ISOLATED `newSession()` — the caller's temp
    * views must not shadow corpus catalog tables (a TPC-H-ish `customer`
    * temp view otherwise captures TPC-DS's `customer` and every query on
    * it fails resolution), and ANSI/current-catalog settings stay the
    * caller's — [[graft.Bench]] runs this as its corpus section
    * mid-benchmark.
    *
    * Partial shedding (r8 lesson — an all-or-nothing section gate shed
    * the WHOLE decade on a slow box): `remainingS` is consulted before
    * every query; when the remaining wall budget can no longer cover the
    * next query (2× the slowest seen so far + margin), the loop STOPS and
    * returns what it timed plus the skipped count — a truncated decade is
    * a record, a skipped one is a hole. `onCheckpoint` fires every ~45 s
    * with the cumulative results so the caller can fold a parseable
    * partial fragment into its crash-survival line. */
  def runCorpus(outerSpark: SparkSession, dataDir: Path, iters: Int,
      warmup: Boolean, partitioned: Boolean = true,
      log: String => Unit = _ => (),
      remainingS: () => Double = () => Double.MaxValue,
      onCheckpoint: (Seq[(String, Double)], List[String], Int) => Unit =
        (_, _, _) => ())
      : (Seq[(String, Double)], List[String], Int) = {
    val spark = outerSpark.newSession()
    val wh = Files.createTempDirectory("tpcds-time").toString
    val store = new TableStore(spark, wh)
    TpcdsIngest.ingest(spark, store, dataDir, partitioned, log)

    val cat = s"graftds${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"USE $cat")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")

    def run(text: String): Unit =
      try { spark.sql(text).collect(); () }
      catch {
        // q90 divides by zero at tiny SFs (non-zero at the reference's
        // sf100+); Athena would error too — compare NULL semantics instead.
        case e: Throwable
            if Option(e.getMessage).exists(_.contains("DIVIDE_BY_ZERO")) =>
          spark.conf.set("spark.sql.ansi.enabled", "false")
          try { spark.sql(text).collect(); () }
          finally spark.conf.set("spark.sql.ansi.enabled", "true")
      }

    try {
      val files = Files.list(sqlDir).iterator().asScala
        .filter(_.getFileName.toString.matches("q.*\\.sql")).toSeq
        .sortBy(_.getFileName.toString)

      // one untimed pass over the whole corpus absorbs codegen/JIT
      if (warmup) files.foreach { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        try run(text) catch { case _: Throwable => }
      }

      var failed = List.empty[String]
      val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      var slowest = 0.0
      var lastCkpt = System.nanoTime()
      var idx = 0
      var stopped = false
      while (idx < files.size && !stopped) {
        // Stop BEFORE a query the budget can't cover: the next query can
        // plausibly cost up to ~2x the slowest seen (plan variety within
        // a decade), plus a small fixed floor for the cheap ones.
        val need = math.max(10.0, 2.0 * slowest) + 5.0
        if (remainingS() < need) {
          log(f"decade TRUNCATED at query ${idx + 1}/${files.size}: " +
            f"${remainingS()}%.0f s left < $need%.0f s for the next query")
          stopped = true
        } else {
          val p = files(idx)
          val name = p.getFileName.toString.stripSuffix(".sql")
          val text = new String(Files.readAllBytes(p), "UTF-8")
          val ts = (1 to iters).map { _ =>
            val t0 = System.nanoTime()
            try run(text)
            catch { case e: Throwable =>
              if (!failed.contains(name)) failed ::= name
              log(s"$name FAILED: ${Option(e.getMessage).getOrElse(e.toString).take(200)}")
            }
            (System.nanoTime() - t0) / 1e9
          }
          log(f"$name min=${ts.min}%.3f mean=${ts.sum / ts.size}%.3f")
          times += (name -> ts.min)
          slowest = math.max(slowest, ts.min)
          idx += 1
          if ((System.nanoTime() - lastCkpt) / 1e9 > 45.0) {
            onCheckpoint(times.toSeq, failed, files.size - idx)
            lastCkpt = System.nanoTime()
          }
        }
      }
      (times.toSeq, failed, files.size - idx)
    } finally {
      // Scratch warehouse: the isolated session dies with this call frame,
      // but the files don't — reclaim them (the sf1 corpus is ~1.6 GB).
      // Never let cleanup failure mask a successful run.
      try TpcdsIngest.deleteRecursively(Paths.get(wh))
      catch { case e: Exception => log(s"cleanup failed: ${e.getMessage}") }
    }
  }

  def main(args: Array[String]): Unit = {
    val dataDir = Paths.get(args.headOption.getOrElse("fixtures/tpcds-sf0.01"))
    val iters = args.lift(1).map(_.toInt).getOrElse(2)

    val spark = graft.GraftSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "90s") // bound /tmp/blockmgr-*
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (times, failed, skipped) = runCorpus(spark, dataDir, iters, warmup = true,
      partitioned = !sys.env.contains("GRAFT_TPCDS_UNPARTITIONED"),
      log = m => System.err.println(s"[tpcds-time] $m"))
    val ok = times.filterNot { case (n, _) => failed.contains(n) }
    val secs = ok.map(_._2).sorted
    val med = if (secs.isEmpty) 0.0
      else if (secs.size % 2 == 1) secs(secs.size / 2)
      else (secs(secs.size / 2 - 1) + secs(secs.size / 2)) / 2
    val qs = ok.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(f"""{"queries":$qs,"total":${secs.sum}%.3f,"median":$med%.3f,"iters":$iters,"data":"$dataDir","failed":$fj,"skipped":$skipped}""")
    spark.stop()
  }
}
