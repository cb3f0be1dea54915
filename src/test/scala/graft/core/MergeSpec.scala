package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() = new TableStore(spark, tmpDir("merge"))

  test("3-branch merge: update + delete + insert in one pass") {
    val store = freshStore()
    store.commit("emp",
      Seq((1, "ann", 10), (2, "bob", 10), (5, "eve", 20))
        .toDF("id", "name", "dept"), "create")
    val delta = Seq(
      (1, "ann", 10, true),   // matched + deleted flag → DELETE
      (5, "eve", 30, false),  // matched → UPDATE (dept change)
      (9, "zoe", 40, false),  // not matched → INSERT
      (11, "del", 40, true)   // not matched + deleted → ignored
    ).toDF("id", "name", "dept", "record_deleted")

    Merge.into(store, "emp")
      .using(delta)
      .on(Seq("id"))
      .whenMatchedDelete(Some(Merge.source("record_deleted")))
      .whenMatchedUpdate()
      .whenNotMatchedInsert(Some(!Merge.source("record_deleted")))
      .run()

    val out = store.read("emp").as[(Int, String, Int)].collect().sortBy(_._1).toSeq
    assert(out == Seq((2, "bob", 10), (5, "eve", 30), (9, "zoe", 40)))
  }

  test("first matching clause wins, in declaration order") {
    val store = freshStore()
    store.commit("t", Seq((1, 100)).toDF("id", "v"), "create")
    Merge.into(store, "t")
      .using(Seq((1, 5)).toDF("id", "v"))
      .on(Seq("id"))
      .whenMatchedUpdate(Some(Merge.source("v") < 10),
        set = Some(Map("v" -> lit(-1))))
      .whenMatchedUpdate() // would set v=5; must not fire
      .run()
    assert(store.read("t").as[(Int, Int)].collect().toSeq == Seq((1, -1)))
  }

  test("unmatched target rows survive; unmatched source rows drop without insert clause") {
    val store = freshStore()
    store.commit("t", Seq((1, "a"), (2, "b")).toDF("id", "s"), "create")
    Merge.into(store, "t")
      .using(Seq((2, "B"), (3, "C")).toDF("id", "s"))
      .on(Seq("id"))
      .whenMatchedUpdate()
      .run()
    assert(store.read("t").as[(Int, String)].collect().sortBy(_._1).toSeq ==
      Seq((1, "a"), (2, "B")))
  }

  test("cardinality violation: >1 source row per target row errors") {
    val store = freshStore()
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    val err = intercept[Exception] {
      Merge.into(store, "t")
        .using(Seq((1, "x"), (1, "y")).toDF("id", "s"))
        .on(Seq("id"))
        .whenMatchedUpdate()
        .run()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(err).contains("more than one source row"))
  }

  test("legal duplicate source keys that hit no target row do not error") {
    val store = freshStore()
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    // two source rows with the same NEW key: both insert, no target row is
    // double-matched, so the folded check must stay silent
    Merge.into(store, "t")
      .using(Seq((2, "x"), (2, "y"), (1, "z")).toDF("id", "s"))
      .on(Seq("id"))
      .whenMatchedUpdate()
      .whenNotMatchedInsert()
      .run()
    assert(store.read("t").count() == 3)
  }

  test("cardinality check adds no extra query execution (folded into the merge join)") {
    // The old pre-check ran a SEPARATE probe action (count over a second
    // target⋈source join — 2× input I/O per merge). Folded in, a merge is
    // ONE query execution regardless of the check. (AQE still splits that
    // execution's shuffle stages into scheduler jobs; executions are the
    // I/O-relevant unit.)
    val store = freshStore()
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { execs.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def mergeExecs(check: Boolean): Int = {
      store.commit(s"m$check", (1 to 100).map(i => (i, s"v$i")).toDF("id", "s"),
        "create")
      spark.listenerManager.register(listener)
      execs.set(0)
      try {
        Merge.into(store, s"m$check")
          .using(Seq((3, "u"), (200, "n")).toDF("id", "s"))
          .on(Seq("id"))
          .whenMatchedUpdate()
          .whenNotMatchedInsert()
          .withCardinalityCheck(check)
          .withFileLevelRewrite(false)
          .run()
        // let events drain on the listener bus: wait for the first, then
        // give any later one the same 300 ms
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (execs.get() == 0 && System.nanoTime() < deadline) Thread.sleep(20)
        Thread.sleep(300)
        execs.get()
      } finally spark.listenerManager.unregister(listener)
    }
    val without = mergeExecs(false)
    val withCheck = mergeExecs(true)
    // The merge is a single execution (the write of the merged snapshot);
    // the cardinality window rides it rather than adding a probe.
    assert(withCheck == without && withCheck == 1,
      s"cardinality check must not add an execution: with=$withCheck without=$without")
  }

  test("file-level copy-on-write: untouched files carry into the new snapshot unrewritten") {
    val store = freshStore()
    store.commit("t",
      (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "s")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("id")),
      "create")
    val before = store.manifests("t").last.files.map(_.path).toSet
    assert(before.size == 4)
    Merge.into(store, "t")
      .using(Seq((10L, "X"), (20L, "Y"), (2000L, "NEW")).toDF("id", "s"))
      .on(Seq("id"))
      .whenMatchedUpdate()
      .whenNotMatchedInsert()
      .run()
    val after = store.manifests("t").last.files.map(_.path).toSet
    val shared = before & after
    assert(shared.size == 3, s"expected 3 reused files, got ${shared.size}")
    // result is identical to what a full rewrite would produce
    val out = store.read("t").as[(Long, String)].collect().toMap
    assert(out.size == 1001 && out(10L) == "X" && out(20L) == "Y" &&
      out(2000L) == "NEW" && out(500L) == "v500")
  }

  test("file-level rewrite falls back to full rewrite when all files are hit") {
    val store = freshStore()
    store.commit("t", Seq((1L, "a"), (999L, "b")).toDF("id", "s"), "create")
    Merge.into(store, "t")
      .using(Seq((1L, "A"), (999L, "B")).toDF("id", "s"))
      .on(Seq("id"))
      .whenMatchedUpdate()
      .run()
    assert(store.read("t").as[(Long, String)].collect().toMap ==
      Map(1L -> "A", 999L -> "B"))
  }

  test("insert with explicit values fills unassigned columns with null") {
    val store = freshStore()
    store.commit("t", Seq((1, "a", 10)).toDF("id", "s", "v"), "create")
    Merge.into(store, "t")
      .using(Seq(7).toDF("id"))
      .on(Seq("id"))
      .whenNotMatchedInsert(values =
        Some(Map("id" -> Merge.source("id"), "s" -> lit("new"))))
      .run()
    val got = store.read("t").collect().map(r =>
      (r.getInt(0), r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2)))
    assert(got.sortBy(_._1).toSeq == Seq((1, "a", 10), (7, "new", -1)))
  }

  test("schema evolution: source-only columns append; old rows read null") {
    val store = freshStore()
    store.commit("t",
      (1 to 100).map(i => (i.toLong, s"v$i"))
        .toDF("id", "s")
        .repartitionByRange(4, col("id")), "create")
    Merge.into(store, "t")
      .using(Seq((10L, "X", 7L), (2000L, "NEW", 9L)).toDF("id", "s", "score"))
      .on(Seq("id"))
      .whenMatchedUpdate()
      .whenNotMatchedInsert()
      .withSchemaEvolution()
      .run()
    val out = store.read("t")
    assert(out.columns.toSeq == Seq("id", "s", "score"))
    val got = out.collect().map(r => r.getLong(0) ->
      (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got.size == 101)
    assert(got(10L) == ("X", 7L) && got(2000L) == ("NEW", 9L))
    // a row in an untouched carried file reads null for the new column
    assert(got(90L) == ("v90", -1L))
    // and the untouched files really did carry (file-level CoW intact)
    val vs = store.manifests("t").map(m => m.version -> m.files.map(_.path))
    val shared = vs.init.last._2.toSet & vs.last._2.toSet
    assert(shared.nonEmpty, "expected carried files across the evolution")
  }

  test("row lineage: updates keep ids and bump seq; inserts draw fresh ids") {
    val store = freshStore()
    store.commit("t",
      (1 to 100).map(i => (i.toLong, s"v$i", i.toLong, 1L))
        .toDF("id", "s", "_row_id", "_last_updated_seq")
        .repartitionByRange(4, col("id")), "create")
    // id allocation is metadata-only when footer stats exist
    assert(store.statMaxLong("t", "_row_id").contains(100L))
    Merge.into(store, "t")
      .using(Seq((10L, "X"), (20L, "Y"), (2000L, "NEW"), (3000L, "NEW2"))
        .toDF("id", "s"))
      .on(Seq("id"))
      .whenMatchedUpdate()
      .whenNotMatchedInsert()
      .withRowLineage()
      .run()
    val got = store.read("t").collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(10L) == ("X", 10L, 2L), got(10L).toString)   // id kept, seq bumped
    assert(got(90L) == ("v90", 90L, 1L))                    // untouched
    // inserts: maxId 100 + delta row_number (source order 10,20,2000,3000
    // → matched rows leave gaps: unique, not dense)
    assert(got(2000L) == ("NEW", 103L, 2L), got(2000L).toString)
    assert(got(3000L) == ("NEW2", 104L, 2L))
    val ids = store.read("t").select("_row_id").as[Long].collect()
    assert(ids.distinct.length == ids.length, "row ids must stay unique")
  }

  test("without schema evolution, source-only columns are ignored") {
    val store = freshStore()
    store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
    Merge.into(store, "t")
      .using(Seq((1L, "b", 5L)).toDF("id", "s", "extra"))
      .on(Seq("id"))
      .whenMatchedUpdate()
      .run()
    val out = store.read("t")
    assert(out.columns.toSeq == Seq("id", "s"))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "b")))
  }
}
