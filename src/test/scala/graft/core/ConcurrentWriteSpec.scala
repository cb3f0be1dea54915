package graft.core

import graft.SparkSpec
import graft.curation.Scd2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Concurrent writers racing optimistic commits: merges replan on
  * conflict (serializable — the retried merge reads the winner's
  * snapshot), merge-on-read deltas retry like appends. Every writer's
  * effect must land; no lost updates, no resurrect. */
class ConcurrentWriteSpec extends SparkSpec {
  import spark.implicits._

  private def race(n: Int)(job: Int => Unit): Unit = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // await each future individually: a fail-fast sequence would shut the
    // pool down under still-running rivals
    val futures = (0 until n).map(i => Future(job(i)))
    val results = futures.map(f => scala.util.Try(Await.result(f, 600.seconds)))
    pool.shutdown()
    results.foreach(_.get)
  }

  test("4 concurrent CoW merges all land (replan-on-conflict)") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_race_m").toString)
    store.commit("t",
      (0L until 400L).map(i => (i, 0L)).toDF("id", "v"), "create")
    val v0 = store.currentVersion("t")
    race(4) { w =>
      // writer w updates its own disjoint 100-key slice to w+1
      val src = (0L until 400L).filter(_ % 4 == w)
        .map(i => (i, w + 1L)).toDF("id", "v")
      Merge.into(store, "t").using(src)
        .on(Seq("id"))
        .whenMatchedUpdate()
        .withRetries(16)
        .run()
      ()
    }
    // every writer committed exactly one snapshot
    assert(store.currentVersion("t") == v0 + 4)
    // no lost updates: every slice carries its writer's value
    val got = store.read("t").groupBy(col("v"))
      .agg(count(lit(1)).as("n")).orderBy(col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L)))
  }

  test("4 concurrent MoR upserts retry like appends; all deltas apply") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_race_mor").toString)
    store.commit("t",
      (0L until 400L).map(i => (i, 0L)).toDF("id", "v"), "create")
    race(4) { w =>
      val src = (0L until 400L).filter(_ % 4 == w)
        .map(i => (i, 100L + w)).toDF("id", "v")
      store.upsertMoR("t", src, Seq("id"))
      ()
    }
    val got = store.read("t").groupBy(col("v"))
      .agg(count(lit(1)).as("n")).orderBy(col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((100L, 100L), (101L, 100L), (102L, 100L),
      (103L, 100L)))
  }

  /** A store whose next [[readFiles]] first lets a rival writer commit:
    * the rival lands after the merge chose its files and before it
    * commits, the window a merge must not lose the rival's rows in. */
  private final class RivalBeforeRead(wh: String) extends TableStore(spark, wh) {
    @volatile var rival: Option[() => Unit] = None
    override def readFiles(table: String, files: Seq[TableStore.FileEntry]): DataFrame = {
      val r = rival
      rival = None
      r.foreach(_())
      super.readFiles(table, files)
    }
  }

  private def scd2Table(wh: String): Unit =
    Scd2.bulkInsert(new TableStore(spark, wh), "t",
      Seq(("A", 1, "2022-01-01 00:00:00"), ("B", 1, "2022-01-01 00:00:00")).toDF("pk", "qty", "ts_s")
        .withColumn("extraction_timestamp", to_timestamp(col("ts_s"))).drop("ts_s"))

  private def scd2Delta(rows: (String, Int, String)*) =
    rows.toDF("pk", "qty", "ts_s")
      .withColumn("extraction_timestamp", to_timestamp(col("ts_s"))).drop("ts_s")

  private def currentQty(store: TableStore): Seq[(String, Int)] =
    store.read("t").filter(col("is_current")).select("pk", "qty")
      .as[(String, Int)].collect().sorted.toSeq

  Seq[(String, (TableStore, DataFrame) => Long)](
    "scd2Complex" -> (Scd2.scd2Complex(_, "t", _)),
    "scd2Simple" -> (Scd2.scd2Simple(_, "t", _))
  ).foreach { case (name, merge) =>
    test(s"$name replans when an append lands mid-merge; both land") {
      val wh = java.nio.file.Files.createTempDirectory("graft_race_scd2").toString
      scd2Table(wh)
      val store = new RivalBeforeRead(wh)
      val v0 = store.currentVersion("t")
      store.rival = Some(() => {
        new TableStore(spark, wh).append("t", Scd2.withScd2Columns(
          scd2Delta(("C", 7, "2022-01-05 00:00:00"))))
        ()
      })
      merge(store, scd2Delta(("A", 2, "2022-02-01 00:00:00")))
      assert(store.rival.isEmpty, "the rival never ran")
      assert(store.currentVersion("t") == v0 + 2)
      assert(currentQty(store) == Seq(("A", 2), ("B", 1), ("C", 7)))
      assert(store.read("t").count() == 4)
    }
  }

  test("compactWhere surfaces an append that lands during its region read") {
    val wh = java.nio.file.Files.createTempDirectory("graft_race_cw").toString
    new TableStore(spark, wh).commit("t",
      (0L until 100L).map(i => (i, i)).toDF("id", "v"), "create")
    val store = new RivalBeforeRead(wh)
    store.rival = Some(() => {
      new TableStore(spark, wh).append("t", Seq((999L, 0L)).toDF("id", "v"))
      ()
    })
    intercept[TableStore.CommitConflictException](
      store.compactWhere("t", "id", 0L, 50L))
    assert(store.rival.isEmpty, "the rival never ran")
    val ids = store.read("t").select("id").as[Long].collect()
    assert(ids.length == 101 && ids.contains(999L))
  }

  test("SQL UPDATE surfaces a commit that lands during its write job") {
    val wh = java.nio.file.Files.createTempDirectory("graft_race_upd").toString
    val cat = s"grace${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val store = new TableStore(spark, wh)
    store.commit("t", Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), "create")
    val extra = java.nio.file.Files.createTempDirectory("graft_race_extra").toString
    Seq((3L, 30L)).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(extra)
    ConcurrentWriteSpec.rival = Some(() => { store.addFiles("t", extra); () })
    // fires the rival from inside the UPDATE's write job, once
    spark.udf.register("rival_hook", (v: Long) => { ConcurrentWriteSpec.fireRival(); v + 1 })
    val e = intercept[Exception](
      spark.sql(s"UPDATE $cat.ns.t SET v = rival_hook(v) WHERE id = 2"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[TableStore.CommitConflictException]), e)
    assert(ConcurrentWriteSpec.rival.isEmpty, "the rival never ran")
    assert(store.manifests("t").map(_.operation) == Seq("create", "add_files"))
    assert(store.read("t").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("concurrent scd2Complex and appends all land") {
    val wh = java.nio.file.Files.createTempDirectory("graft_race_scd2c").toString
    scd2Table(wh)
    val store = new TableStore(spark, wh)
    race(3) {
      case 0 =>
        Scd2.scd2Complex(store, "t", scd2Delta(("A", 2, "2022-02-01 00:00:00"),
          ("A", 3, "2022-03-01 00:00:00"), ("B", 5, "2022-01-15 00:00:00")))
        ()
      case w =>
        store.append("t", Scd2.withScd2Columns(
          scd2Delta((s"N$w", w, "2022-01-05 00:00:00"))))
        ()
    }
    assert(currentQty(store) == Seq(("A", 3), ("B", 5), ("N1", 1), ("N2", 2)))
    assert(store.read("t").count() == 7)
  }
}

object ConcurrentWriteSpec {
  /** A rival commit for a task-side hook to fire: tasks of a local-mode
    * job run in this JVM, so a UDF can reach it through this object. */
  @volatile var rival: Option[() => Unit] = None

  def fireRival(): Unit = synchronized {
    val r = rival
    rival = None
    r.foreach(_())
  }
}
