package graft.core

import graft.{GraftSession, SparkSpec}
import graft.catalog.MorReadSpec
import org.apache.spark.sql.functions._

class PositionalDeleteSpec extends SparkSpec {
  import spark.implicits._

  test("deleteWhereMoR masks matching positions; data files untouched; later inserts survive") {
    val store = new TableStore(spark, tmpDir("pd"))
    store.commit("t",
      Seq((1L, "a", 10.0), (2L, "b", -5.0), (3L, "c", 20.0), (4L, "d", -1.0))
        .toDF("id", "s", "v"), "create")
    val filesBefore = store.manifests("t").maxBy(_.version).files.map(_.path)
    store.deleteWhereMoR("t", "v < 0")
    val m = store.manifests("t").maxBy(_.version)
    assert(m.files.map(_.path) == filesBefore)        // no data file touched
    assert(m.deleteFiles.forall(TableStore.isPositional))
    assert(store.read("t").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // a NEW row matching the old predicate survives: positional deletes
    // name old file positions, not values
    store.append("t", Seq((5L, "e", -9.0)).toDF("id", "s", "v"))
    assert(store.read("t").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L))
  }

  test("works on keyless tables with duplicate rows") {
    val store = new TableStore(spark, tmpDir("pd"))
    store.commit("t",
      Seq(("x", 1.0), ("x", 1.0), ("y", 2.0)).toDF("s", "v"), "create")
    store.deleteWhereMoR("t", "s = 'x'")
    assert(store.read("t").as[(String, Double)].collect().toSeq ==
      Seq(("y", 2.0)))
  }

  test("coexists with equality deletes; compactDeletes carries positional untouched") {
    val store = new TableStore(spark, tmpDir("pd"))
    store.commit("t",
      (1L to 10L).map(i => (i, s"s$i", i * 1.0)).toDF("id", "s", "v"), "create")
    store.deleteWhereMoR("t", "id = 1")
    store.deleteKeysMoR("t", Seq(2L).toDF("id"), Seq("id"))
    store.deleteKeysMoR("t", Seq(3L).toDF("id"), Seq("id"))
    val expect = (4L to 10L).map(i => (i, s"s$i", i * 1.0)).toSet
    assert(store.read("t").as[(Long, String, Double)].collect().toSet == expect)
    val before = store.manifests("t").maxBy(_.version)
    store.compactDeletes("t")
    val after = store.manifests("t").maxBy(_.version)
    assert(after.deleteFiles.count(TableStore.isPositional) ==
      before.deleteFiles.count(TableStore.isPositional))
    assert(after.deleteFiles.count(!TableStore.isPositional(_)) <
      before.deleteFiles.count(!TableStore.isPositional(_)))
    assert(store.read("t").as[(Long, String, Double)].collect().toSet == expect)
  }

  test("SQL scans apply positional deletes directly; compact still clears them") {
    val wh = tmpDir("pd_cat")
    val cat = s"gpos${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val store = new TableStore(spark, wh)
    store.commit("t", Seq((1L, 1.0), (2L, -2.0), (3L, 3.0)).toDF("id", "v"),
      "create")
    store.deleteWhereMoR("t", "v < 0")
    // the DSv2 scan reconstructs row positions (one task per file, splits
    // chained in offset order) and anti-filters the (file,pos) mask —
    // no CALL compact required (r5 verdict item #6)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ns.t").head.getLong(0) == 2)
    assert(spark.sql(s"SELECT id FROM $cat.ns.t ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L))
    store.compact("t")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ns.t").head.getLong(0) == 2)
    assert(store.manifests("t").maxBy(_.version).deleteFiles.isEmpty)
  }

  test("positions survive pushed filters over multi-row-group files, and pushdown actually skips row groups") {
    // Positions come from the parquet readers' row-index column, which is
    // computed from row-group offsets — so the positional path keeps the
    // pushed predicate AND row-group skipping without desyncing the mask.
    // Tiny parquet block size forces many row groups so both halves of
    // the claim are actually exercised: correctness under skipping, and
    // the skip itself (scan output far below table row count).
    val wh = tmpDir("pd_rg")
    val cat = s"gposrg${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // bare key: SessionState.newHadoopConf copies session-conf entries
    // verbatim into the writer's hadoop conf (the spark.hadoop. prefix
    // only works on the static SparkConf at context start)
    spark.conf.set("parquet.block.size", "4096")
    try {
      val store = new TableStore(spark, wh)
      val pad = "x" * 64
      store.commit("t",
        (1 to 20000).map(i => (i.toLong, pad + i)).toDF("id", "s")
          .coalesce(1), "create")
      // APERIODIC mask — a uniform stride (id % 100 = 0) is blind to a
      // position desync whenever the skipped prefix length is a multiple
      // of the stride (row groups hold ~100 rows here): the shifted
      // positions land back on the mask. Irregular ids cannot realign
      // under any shift.
      store.deleteWhereMoR("t",
        "id IN (5, 23, 15102, 15203, 16001, 17777, 19998)")
      // the premise must hold or the test silently stops covering the
      // regression: the data file really spans multiple row groups
      val fe = store.manifests("t").maxBy(_.version).files.head
      val rgs = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$wh/t/${fe.path}"),
          spark.sessionState.newHadoopConf())).getFooter.getBlocks.size()
      assert(rgs > 1, s"expected multiple row groups, got $rgs")
      // selective range predicate: a desynced position source would
      // resurrect masked ids and/or drop unmasked ones inside the range
      val masked = Set(15102L, 15203L, 16001L, 17777L, 19998L)
      val want = (15001L to 20000L).filterNot(masked)
      def scanRowsOf(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        def walk(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = {
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          val kids = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: QueryStageExec => Seq(q.plan)
            case o => o.children
          }
          p +: kids.flatMap(walk)
        }
        walk(df.queryExecution.executedPlan).collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.isInstanceOf[org.apache.spark.sql.graft.GraftPosMorScan] =>
            b.metrics("numOutputRows").value
        }.sum
      }
      val q = spark.sql(s"SELECT id FROM $cat.ns.t WHERE id > 15000 ORDER BY id")
      assert(q.as[Long].collect().toSeq == want)
      // the skip: row-group stats on id prune the < 15000 groups, so the
      // scan emits a fraction of the 20k rows (the r6 path emitted ALL
      // surviving rows and filtered above)
      val emitted = scanRowsOf(
        spark.sql(s"SELECT id FROM $cat.ns.t WHERE id > 15000"))
      assert(emitted > 0 && emitted < 10000,
        s"pushdown should keep scan output well under 20000 rows, got $emitted")
      val lib = store.read("t").filter(col("id") > 15000)
        .select(col("id")).as[Long].collect().sorted.toSeq
      assert(lib == want)
      // the parquet-mr (row-based) reader path: same answer with the
      // vectorized reader off — covers addRowIndexToRecordReaderIfNeeded
      // and the reader's projecting row
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
      try {
        val rowPath = spark.sql(
            s"SELECT id FROM $cat.ns.t WHERE id > 15000 ORDER BY id")
          .as[Long].collect().toSeq
        assert(rowPath == want)
      } finally
        spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    } finally spark.conf.unset("parquet.block.size")
  }

  test("rewritePositionDeletes consolidates the overlay; reads unchanged; SQL mask is bitmap-backed") {
    val wh = tmpDir("pd_dv")
    val cat = s"gdv${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val store = new TableStore(spark, wh)
    store.commit("t",
      (1L to 5000L).map(i => (i, i * 2.0)).toDF("id", "v"), "create")
    // accumulate four positional commits, with overlapping positions (the
    // id=7 row is deleted twice — the rewrite must dedup it)
    store.deleteWhereMoR("t", "id % 400 = 7")
    store.deleteWhereMoR("t", "id = 7")
    store.deleteWhereMoR("t", "id % 1000 = 999")
    store.deleteWhereMoR("t", "id > 4990")
    val before = store.manifests("t").maxBy(_.version)
    assert(before.deleteFiles.count(TableStore.isPositional) >= 4)
    val expect = (1L to 5000L)
      .filterNot(i => i % 400 == 7 || i % 1000 == 999 || i > 4990)
    assert(store.read("t").select("id").as[Long].collect().sorted.toSeq
      == expect)
    val v = store.rewritePositionDeletes("t")
    val after = store.manifests("t").maxBy(_.version)
    assert(after.version == v && after.operation == "rewrite_position_deletes")
    assert(after.deleteFiles.count(TableStore.isPositional) == 1,
      s"overlay not consolidated: ${after.deleteFiles}")
    assert(after.files.map(_.path) == before.files.map(_.path)) // data untouched
    // dedup: the consolidated row count equals the distinct mask size
    val maskRows = after.deleteFiles.filter(TableStore.isPositional)
      .map(_.rowCount).sum
    assert(maskRows == 5000 - expect.size,
      s"mask rows $maskRows vs deleted ${5000 - expect.size}")
    // both read paths agree post-rewrite
    assert(store.read("t").select("id").as[Long].collect().sorted.toSeq
      == expect)
    assert(spark.sql(s"SELECT id FROM $cat.ns.t ORDER BY id")
      .as[Long].collect().toSeq == expect)
    // idempotent: a second rewrite is a no-op commit
    assert(store.rewritePositionDeletes("t") == v)
    // SQL CALL face
    val r = spark.sql(
      s"CALL $cat.system.rewrite_position_deletes(`table` => 't')")
      .collect().head
    assert(r.getLong(2) <= 1, r.toString)
  }

  private def catalogOver(wh: String): String = {
    val cat = s"gposmemo${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    cat
  }

  test("SQL delete vectors load in one job per delete-file set; a memo hit still honours the cap") {
    val wh = tmpDir("pd_memo")
    val cat = catalogOver(wh)
    val store = new TableStore(spark, wh)
    store.commit("t", (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"),
      "create")
    store.deleteWhereMoR("t", "id % 10 = 0")
    store.deleteWhereMoR("t", "id < 4")
    assert(store.manifests("t").maxBy(_.version).deleteFiles
      .map(_.seq).distinct.size == 2)
    val expect = (4L to 100L).filterNot(_ % 10 == 0)
    val first = MorReadSpec.deleteLoads(spark) {
      assert(spark.sql(s"SELECT id FROM $cat.ns.t ORDER BY id")
        .as[Long].collect().toSeq == expect)
    }
    assert(first == 1, s"first read ran $first delete-file jobs")
    val again = MorReadSpec.deleteLoads(spark) {
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t WHERE v > 50")
        .head.getLong(0) == expect.count(_ > 50))
    }
    assert(again == 0, s"a later read ran $again delete-file jobs")
    // a new positional commit is a new delete-file set: one more load
    store.deleteWhereMoR("t", "id = 55")
    val next = MorReadSpec.deleteLoads(spark) {
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").head.getLong(0) ==
        expect.size - 1)
    }
    assert(next == 1, s"the new snapshot ran $next delete-file jobs")
    val e = intercept[Exception] {
      spark.read.option("morMaxDeleteKeys", "3").table(s"$cat.ns.t").count()
    }
    assert(e.getMessage.contains("CALL compact") ||
      Option(e.getCause).exists(_.getMessage.contains("CALL compact")))
  }

  test("positional and equality masks apply per file when files are packed or split by byte range") {
    val wh = tmpDir("pd_split")
    val cat = catalogOver(wh)
    val store = new TableStore(spark, wh)
    val pad = "x" * 48
    GraftSession.withConf(spark, "parquet.block.size" -> "4096") {
      store.commit("t", (1 to 3000).map(i => (i.toLong, pad + i)).toDF("id", "s")
        .coalesce(1), "create")
      store.append("t", (3001 to 6000).map(i => (i.toLong, pad + i))
        .toDF("id", "s").coalesce(1))
    }
    // aperiodic positions in both files, then an equality delete on top
    store.deleteWhereMoR("t", "id IN (7, 1500, 2999, 3002, 4444, 5999)")
    store.deleteKeysMoR("t", Seq(10L, 3010L).toDF("id"), Seq("id"))
    val files = store.manifests("t").maxBy(_.version).files
    assert(files.size == 2)
    val masked = Set(7L, 1500L, 2999L, 3002L, 4444L, 5999L, 10L, 3010L)
    val expect = (1L to 6000L).filterNot(masked)
    assert(store.read("t").select("id").as[Long].collect().sorted.toSeq == expect)
    def partitions(df: org.apache.spark.sql.DataFrame): Int =
      MorReadSpec.morScans(df).map(_.scan.toBatch.planInputPartitions().length).sum
    // both files packed into one Spark file partition: one input
    // partition per file
    GraftSession.withConf(spark, "spark.sql.files.openCostInBytes" -> "1",
        "spark.sql.files.minPartitionNum" -> "1") {
      val df = spark.sql(s"SELECT id FROM $cat.ns.t")
      assert(df.as[Long].collect().sorted.toSeq == expect)
      assert(partitions(df) == files.size)
    }
    // byte-range splits of each file
    GraftSession.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "4096",
        "spark.sql.files.openCostInBytes" -> "1") {
      val df = spark.sql(s"SELECT id FROM $cat.ns.t")
      assert(df.as[Long].collect().sorted.toSeq == expect)
      assert(partitions(df) > files.size)
    }
  }
}
