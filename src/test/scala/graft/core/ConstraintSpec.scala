package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def violation(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.getMessage != null && c.getMessage.contains("CHECK constraint"))
        return true
      c = c.getCause
    }
    false
  }

  test("violating writes are rejected on every path; table state unchanged") {
    val store = new TableStore(spark, tmpDir("cs"))
    store.commit("t", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), "create")
    store.addCheckConstraint("t", "v_positive", "v > 0")
    val vBefore = store.currentVersion("t")
    // append path
    val e1 = intercept[Exception] {
      store.append("t", Seq((3L, -1.0)).toDF("id", "v"))
    }
    assert(violation(e1), s"unexpected: $e1")
    // merge-on-read upsert path
    val e2 = intercept[Exception] {
      store.upsertMoR("t", Seq((1L, -5.0)).toDF("id", "v"), Seq("id"))
    }
    assert(violation(e2), s"unexpected: $e2")
    assert(store.currentVersion("t") == vBefore)
    assert(store.read("t").count() == 2)
    // conforming writes still pass, constraint carried through compaction
    store.append("t", Seq((3L, 30.0)).toDF("id", "v"))
    store.compact("t")
    val e3 = intercept[Exception] {
      store.append("t", Seq((4L, 0.0)).toDF("id", "v"))
    }
    assert(violation(e3))
    assert(store.read("t").count() == 3)
  }

  test("write-audit-publish: stageAppend enforces CHECK; nothing is staged or published") {
    val store = new TableStore(spark, tmpDir("cs"))
    store.commit("t", Seq((1, 10)).toDF("id", "qty"), "create")
    store.addCheckConstraint("t", "qty_pos", "qty > 0")
    val vBefore = store.currentVersion("t")
    val e = intercept[Exception] {
      store.publishStaged("t", store.stageAppend("t", Seq((2, -5)).toDF("id", "qty")))
    }
    assert(violation(e), s"unexpected: $e")
    assert(store.stagedIds("t").isEmpty)
    assert(store.currentVersion("t") == vBefore)
    assert(store.read("t").as[(Int, Int)].collect().toSeq == Seq((1, 10)))
    // a conforming stage still publishes
    store.publishStaged("t", store.stageAppend("t", Seq((3, 7)).toDF("id", "qty")))
    assert(store.read("t").as[(Int, Int)].collect().toSet == Set((1, 10), (3, 7)))
  }

  test("existing violating rows block constraint creation; NULL passes CHECK") {
    val store = new TableStore(spark, tmpDir("cs"))
    store.commit("t",
      Seq((1L, Some(10.0)), (2L, None)).toDF("id", "v"), "create")
    // NULL predicate result passes (SQL-standard CHECK), so this is legal
    store.addCheckConstraint("t", "v_positive", "v > 0")
    store.append("t", Seq((3L, None: Option[Double])).toDF("id", "v"))
    assert(store.read("t").count() == 3)
    intercept[Exception] {
      store.addCheckConstraint("t", "v_big", "v > 100")
    }
    assert(store.checkConstraints("t").map(_._1) == Seq("v_positive"))
  }

  test("appendWithQuarantine routes violating rows; batch is never aborted") {
    val store = new TableStore(spark, tmpDir("cs"))
    store.commit("t", Seq((1L, 10.0)).toDF("id", "v"), "create")
    store.addCheckConstraint("t", "v_positive", "v > 0")
    store.addCheckConstraint("t", "v_small", "v < 100")
    val batch = Seq((2L, 20.0), (3L, -1.0), (4L, 500.0)).toDF("id", "v")
    val (v, nBad) = store.appendWithQuarantine("t", batch, "t_quarantine")
    assert(nBad == 2)
    assert(store.read("t").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    val q = store.read("t_quarantine")
      .select("id", "__violated").as[(Long, String)].collect().toMap
    assert(q == Map(3L -> "v_positive", 4L -> "v_small"))
    // a fully-clean batch quarantines nothing
    val (_, zero) = store.appendWithQuarantine("t",
      Seq((5L, 5.0)).toDF("id", "v"), "t_quarantine")
    assert(zero == 0 && store.read("t").count() == 3)
    assert(v > 0)
  }

  test("SQL INSERT through the catalog validates staged files pre-commit") {
    val wh = tmpDir("cs_cat")
    val cat = s"gcons${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val store = new TableStore(spark, wh)
    store.commit("t", Seq((1L, 10.0)).toDF("id", "v"), "create")
    spark.sql(s"CALL $cat.system.add_check_constraint(" +
      s"`table` => 't', name => 'v_positive', predicate => 'v > 0')").collect()
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.ns.t VALUES (2, -3.0)")
    }
    assert(violation(e), s"unexpected: $e")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ns.t").head.getLong(0) == 1)
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (2, 3.0)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ns.t").head.getLong(0) == 2)
    // drop → formerly-violating write passes
    spark.sql(s"CALL $cat.system.drop_check_constraint(" +
      s"`table` => 't', name => 'v_positive')").collect()
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (3, -3.0)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ns.t").head.getLong(0) == 3)
  }
}
