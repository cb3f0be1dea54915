package graft.catalog

import graft.{GraftSession, SparkSpec}
import graft.core.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SQL reads over merge-on-read tables: the DSv2 scan applies equality
  * deletes itself (one parquet scan split by file sequence + a broadcast
  * delete filter loaded once per delete-file set), so SELECTs — filtered, pruned, aggregated, time-traveled —
  * work without materializing; row-level SQL writes plan their rewrite
  * over the same delete-aware scan, materializing the overlay they touch.
  */
class MorReadSpec extends SparkSpec {
  import spark.implicits._
  import MorReadSpec.morScans

  private def withCatalog(f: (TableStore, String) => Unit): Unit = {
    val wh = tmpDir("graft_morread")
    val cat = s"gmor${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    f(new TableStore(spark, wh), cat)
  }

  private def seed(store: TableStore): Unit = {
    store.commit("t",
      (1 to 100).map(i => (i.toLong, s"s$i", i * 1.0)).toDF("id", "s", "v"),
      "create")
    // update ids 1-10 (+1000), delete ids 91-100, then update id 1 again
    store.upsertMoR("t",
      (1 to 10).map(i => (i.toLong, s"u$i", i + 1000.0)).toDF("id", "s", "v"),
      Seq("id"))
    store.deleteKeysMoR("t", (91 to 100).map(_.toLong).toDF("id"), Seq("id"))
    store.upsertMoR("t",
      Seq((1L, "uu1", 2000.0)).toDF("id", "s", "v"), Seq("id"))
  }

  test("SELECT over a MoR table applies deletes; matches the library read") {
    withCatalog { (store, cat) =>
      seed(store)
      val sql = spark.sql(s"SELECT id, s, v FROM $cat.ns.t")
        .as[(Long, String, Double)].collect().toSet
      val lib = store.read("t").select(col("id"), col("s"), col("v"))
        .as[(Long, String, Double)].collect().toSet
      assert(sql == lib)
      assert(sql.size == 90)                       // 100 - 10 deleted
      assert(sql.contains((1L, "uu1", 2000.0)))    // last image wins
      assert(sql.contains((5L, "u5", 1005.0)))     // first upsert's image
      assert(!sql.exists(_._1 > 90))               // deletes applied
      assert(sql.contains((50L, "s50", 50.0)))     // untouched row
    }
  }

  test("filters, column pruning, and aggregates stay exact through the MoR scan") {
    withCatalog { (store, cat) =>
      seed(store)
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").head.getLong(0) == 90L)
      assert(spark.sql(
        s"SELECT sum(v) FROM $cat.ns.t WHERE id <= 10").head.getDouble(0) ==
        (2000.0 + (2 to 10).map(_ + 1000.0).sum))
      // pruned projection that does NOT include the key column still works
      // (the scan forces the key in, Spark projects it away)
      assert(spark.sql(s"SELECT s FROM $cat.ns.t WHERE id = 1")
        .head.getString(0) == "uu1")
    }
  }

  test("time travel reads each snapshot's own delete view") {
    withCatalog { (store, cat) =>
      seed(store)
      // version 1 = pre-MoR full table
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t VERSION AS OF 1")
        .head.getLong(0) == 100L)
      // version 3 = after first upsert + deletes, before the second upsert
      val v3 = spark.sql(s"SELECT s FROM $cat.ns.t VERSION AS OF 3 WHERE id = 1")
      assert(v3.head.getString(0) == "u1")
    }
  }

  test("SQL DELETE on a MoR table rewrites through the delete view") {
    withCatalog { (store, cat) =>
      seed(store)
      spark.sql(s"DELETE FROM $cat.ns.t WHERE id = 5")
      val rows = spark.sql(s"SELECT id, s, v FROM $cat.ns.t")
        .as[(Long, String, Double)].collect().toSet
      assert(rows.size == 89)                      // 90 live - 1 deleted
      assert(!rows.exists(_._1 == 5L))
      assert(!rows.exists(_._1 > 90))              // dead rows NOT resurrected
      assert(rows.contains((1L, "uu1", 2000.0)))   // MoR last image survives
      assert(rows.contains((50L, "s50", 50.0)))    // untouched row intact
      // the v1 base file (seq 1) was rewritten or kept; delete files that
      // still mask a kept older file must survive the commit
      val m = store.manifests("t").maxBy(_.version)
      val minKept = m.files.map(fe => TableStore.fileSeqOf(fe.path)).min
      assert(m.deleteFiles.forall(_.seq > minKept))
    }
  }

  test("an unfiltered SQL UPDATE shears the whole MoR overlay off") {
    withCatalog { (store, cat) =>
      seed(store)
      spark.sql(s"UPDATE $cat.ns.t SET v = v + 1.0")
      val m = store.manifests("t").maxBy(_.version)
      assert(m.deleteFiles.isEmpty,
        "full rewrite must drop the now-dead delete files")
      val rows = spark.sql(s"SELECT id, s, v FROM $cat.ns.t")
        .as[(Long, String, Double)].collect().toSet
      assert(rows.size == 90)
      assert(rows.contains((1L, "uu1", 2001.0)))
      assert(rows.contains((50L, "s50", 51.0)))
      assert(!rows.exists(_._1 > 90))
    }
  }

  test("SQL MERGE INTO a MoR table applies on the delete-aware view") {
    withCatalog { (store, cat) =>
      seed(store)
      spark.sql(
        s"""MERGE INTO $cat.ns.t t USING (
           |  SELECT * FROM VALUES (1L, 'merged', 9.0), (95L, 'back', 5.0)
           |    AS src(id, s, v)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET t.s = s.s, t.v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val rows = spark.sql(s"SELECT id, s, v FROM $cat.ns.t")
        .as[(Long, String, Double)].collect().toSet
      // id 95 was MoR-deleted → NOT MATCHED → inserted fresh
      assert(rows.contains((95L, "back", 5.0)))
      // id 1's live image matched and updated; old images stay dead
      assert(rows.contains((1L, "merged", 9.0)))
      assert(rows.count(_._1 == 1L) == 1)
      assert(rows.size == 91)
    }
  }

  test("plain INSERT INTO a MoR table appends and keeps the delete files") {
    withCatalog { (store, cat) =>
      seed(store)
      spark.sql(s"INSERT INTO $cat.ns.t VALUES (200, 'new', 1.0)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").head.getLong(0) == 91L)
      assert(store.manifests("t").maxBy(_.version).deleteFiles.nonEmpty)
    }
  }

  test("MoR SQL reads stay vectorized: the delete filter survives a columnar scan") {
    withCatalog { (store, cat) =>
      seed(store)
      val df = spark.sql(s"SELECT id, v FROM $cat.ns.t WHERE v >= 0")
      df.collect() // materialize AQE final plan
      val scans = morScans(df)
      assert(scans.nonEmpty, "expected a MoR scan in the plan")
      assert(scans.forall(_.supportsColumnar),
        "equality-delete MoR scan must keep parquet vectorization " +
          "(r5 verdict item #7)")
      assert(df.count() == 90)
    }
  }

  test("SQL SELECT applies positional deletes, alone and mixed with equality") {
    withCatalog { (store, cat) =>
      store.commit("p",
        (1 to 50).map(i => (i.toLong, s"s$i", i * 1.0)).toDF("id", "s", "v"),
        "create")
      store.deleteWhereMoR("p", "id % 7 = 0")                     // positional
      val sqlPosOnly = spark.sql(s"SELECT id FROM $cat.ns.p")
        .as[Long].collect().toSet
      assert(sqlPosOnly == (1 to 50).map(_.toLong).toSet.filterNot(_ % 7 == 0))
      store.deleteKeysMoR("p", Seq(3L, 10L).toDF("id"), Seq("id")) // + equality
      store.upsertMoR("p", Seq((5L, "u5", 500.0)).toDF("id", "s", "v"),
        Seq("id"))
      val df = spark.sql(s"SELECT id, s, v FROM $cat.ns.p")
      val sql = df.as[(Long, String, Double)].collect().toSet
      val lib = store.read("p").select(col("id"), col("s"), col("v"))
        .as[(Long, String, Double)].collect().toSet
      assert(sql == lib)
      assert(!sql.exists(t => t._1 % 7 == 0))
      assert(!sql.exists(t => t._1 == 3L || t._1 == 10L))
      assert(sql.contains((5L, "u5", 500.0)))
      assert(sql.count(_._1 == 5L) == 1)
      // filters + pruned projections flow through the positional scan too
      assert(spark.sql(s"SELECT s FROM $cat.ns.p WHERE id = 5")
        .head.getString(0) == "u5")
      // the positional path keeps vectorized reads as well (positions are
      // counted per batch)
      df.collect()
      assert(morScans(df).forall(_.supportsColumnar))
    }
  }

  test("the delete side loads in one job on the first SELECT of a snapshot, then never again") {
    withCatalog { (store, cat) =>
      seed(store)
      assert(store.manifests("t").maxBy(_.version).deleteFiles
        .map(_.seq).distinct.size >= 2)
      val first = MorReadSpec.deleteLoads(spark) {
        assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").head.getLong(0) == 90L)
      }
      assert(first == 1, s"first read ran $first delete-file jobs")
      val again = MorReadSpec.deleteLoads(spark) {
        assert(spark.sql(s"SELECT s FROM $cat.ns.t WHERE id = 1")
          .head.getString(0) == "uu1")
        assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t a JOIN $cat.ns.t b " +
          "ON a.id = b.id").head.getLong(0) == 90L)
      }
      assert(again == 0, s"later reads ran $again delete-file jobs")
    }
  }

  test("the delete memo never serves another snapshot's deletes") {
    withCatalog { (store, cat) =>
      seed(store)                                  // v1 base .. v4
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id"), col("s"), col("v"))
          .as[(Long, String, Double)].collect().toSet
      val lib = scala.collection.mutable.Map.empty[Long, Set[(Long, String, Double)]]
      def libAt(v: Long) = lib.getOrElseUpdate(v, rowsOf(store.readVersion("t", v)))
      def check(v: Long): Unit = assert(
        rowsOf(spark.sql(s"SELECT id, s, v FROM $cat.ns.t VERSION AS OF $v")) ==
          libAt(v), s"version $v")
      check(4)
      val v5 = store.applyCdcMoR("t", Seq(
          (1L, "c1", 3000.0, false), (50L, "x", 0.0, true),
          (200L, "n200", 1.0, false)).toDF("id", "s", "v", "del"),
        Seq("id"), "del")
      check(v5)
      val v6 = store.compact("t")
      assert(store.manifests("t").find(_.version == v6).get.deleteFiles.isEmpty)
      check(v6)
      val v7 = store.rollbackTo("t", 3)
      assert(store.manifests("t").find(_.version == v7).get.deleteFiles.nonEmpty)
      assert(rowsOf(spark.sql(s"SELECT id, s, v FROM $cat.ns.t")) ==
        rowsOf(store.read("t")))
      Seq(3L, v5, 4L, v5, 3L).foreach(check)
      // the versions really differ, so a shared lookup could not pass
      assert(libAt(3) != libAt(4) && libAt(4) != libAt(v5))
    }
  }

  test("one inner scan: packed and byte-range-split files apply deletes by their own sequence") {
    withCatalog { (store, cat) =>
      GraftSession.withConf(spark, "parquet.block.size" -> "4096") {
        store.commit("w", (1 to 3000).map(i => (i.toLong, "x" * 32 + i))
          .toDF("id", "s").coalesce(1), "create")
        store.upsertMoR("w", (1 to 3000 by 3).map(i => (i.toLong, s"u$i"))
          .toDF("id", "s").coalesce(1), Seq("id"))
        store.deleteKeysMoR("w", (2 to 3000 by 7).map(_.toLong).toDF("id"),
          Seq("id"))
        store.upsertMoR("w", (1 to 3000 by 5).map(i => (i.toLong, s"v$i"))
          .toDF("id", "s").coalesce(1), Seq("id"))
      }
      val m = store.manifests("w").maxBy(_.version)
      val dataSeqs = m.files.map(fe => TableStore.fileSeqOf(fe.path)).distinct
      assert(dataSeqs.size == 3, m.files.toString)
      val lib = store.read("w").select(col("id"), col("s"))
        .as[(Long, String)].collect().toSet
      assert(lib.contains((1L, "v1")) && lib.contains((4L, "u4")) &&
        lib.contains((3L, "x" * 32 + 3)) && !lib.exists(_._1 == 9L))
      def partitions(df: org.apache.spark.sql.DataFrame): Int =
        morScans(df).map(_.scan.toBatch.planInputPartitions().length).sum
      // every file packed into one Spark file partition: the scan splits
      // it into one input partition per sequence
      GraftSession.withConf(spark, "spark.sql.files.openCostInBytes" -> "1",
          "spark.sql.files.minPartitionNum" -> "1") {
        val df = spark.sql(s"SELECT id, s FROM $cat.ns.w")
        assert(df.as[(Long, String)].collect().toSet == lib)
        assert(partitions(df) == dataSeqs.size)
      }
      // byte-range splits: more input partitions than files
      GraftSession.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "4096",
          "spark.sql.files.openCostInBytes" -> "1") {
        val df = spark.sql(s"SELECT id, s FROM $cat.ns.w")
        assert(df.as[(Long, String)].collect().toSet == lib)
        assert(partitions(df) > m.files.size)
      }
    }
  }

  test("the delete-key cap still refuses on a memo hit") {
    withCatalog { (store, cat) =>
      seed(store)
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").head.getLong(0) == 90L)
      var e: Exception = null
      val loads = MorReadSpec.deleteLoads(spark) {
        e = intercept[Exception] {
          spark.read.option("morMaxDeleteKeys", "3")
            .table(s"$cat.ns.t").count()
        }
      }
      assert(loads == 0, "the refused read should have been a memo hit")
      assert(e.getMessage.contains("CALL compact") ||
        Option(e.getCause).exists(_.getMessage.contains("CALL compact")))
    }
  }

  test("the delete-key broadcast cap refuses with a compact hint") {
    withCatalog { (store, cat) =>
      seed(store)
      val e = intercept[Exception] {
        spark.read.option("morMaxDeleteKeys", "3")
          .table(s"$cat.ns.t").count()
      }
      assert(e.getMessage.contains("CALL compact") ||
        Option(e.getCause).exists(_.getMessage.contains("CALL compact")))
    }
  }
}

object MorReadSpec {
  /** The MoR scans in `df`'s executed plan, adaptive stages included. */
  def morScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case o => o.children
      }
      p +: kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.isInstanceOf[org.apache.spark.sql.graft.GraftMorScan] ||
           b.scan.isInstanceOf[org.apache.spark.sql.graft.GraftPosMorScan] => b
    }
  }

  /** Delete-file loads (jobs described as [[org.apache.spark.sql.graft
    * .MorScan.DeleteLoadJob]]) started while `body` runs. Listener events
    * arrive asynchronously but in order, so a marker job after `body`
    * bounds the count. */
  def deleteLoads(spark: SparkSession)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val loads = new java.util.concurrent.atomic.AtomicInteger()
    val marker = s"delete-load marker ${System.nanoTime()}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some(org.apache.spark.sql.graft.MorScan.DeleteLoadJob) =>
            loads.incrementAndGet()
          case Some(`marker`) => seen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      require(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      loads.get()
    } finally sc.removeSparkListener(listener)
  }
}
