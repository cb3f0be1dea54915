package graft.core

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.curation.Scd2
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** What each commit kind carries from the snapshot it builds on. The table
  * has an identity partition spec, a CHECK constraint, a write order, a
  * renamed column and a dropped column, and its newest snapshot is stamped
  * with a streaming epoch. One case per commit kind asserts the new
  * snapshot's partition spec, constraints, write order, column map, dropped
  * columns, delete files (counted by sequence: a delete write may split into
  * several files) and epoch stamp: the table's identity carries
  * through every commit that keeps prior files, a full rewrite sheds the
  * dropped-column tombstones and the merge-on-read overlay, a replace starts
  * from nothing, and no commit repeats another commit's epoch stamp. */
class CommitCarrySpec extends SparkSpec {
  import spark.implicits._

  private case class Carry(partitionBy: Seq[String], constraints: Seq[(String, String)],
      writeOrder: Seq[String], columnMap: Seq[(String, String)], dropped: Seq[String],
      deleteSeqs: Int, streamEpoch: Option[(String, Long)] = None)

  private def carryOf(m: TableStore.Manifest) = Carry(m.partitionBy, m.constraints,
    m.writeOrder, m.columnMap, m.droppedColumns, m.deleteFiles.map(_.seq).distinct.size,
    m.streamEpoch)

  private val Kept = Carry(Seq("p"), Seq("qty_pos" -> "qty > 0"), Seq("pk"),
    Seq("amount" -> "val"), Seq("junk"), 0)

  private val ts = java.sql.Timestamp.valueOf("2022-01-01 00:00:00")
  private val later = java.sql.Timestamp.valueOf("2022-02-01 00:00:00")

  /** Rows in the table's current logical shape, SCD2 columns included. */
  private def rows(keys: Int*): DataFrame =
    Scd2.withScd2Columns(keys.map(i => (s"k$i", if (i <= 4) "a" else "b", i, i * 1.5, ts))
      .toDF("pk", "p", "qty", "amount", "extraction_timestamp"))

  /** Base tables, built once and copied per case: `clean` ends with a
    * streamed append (epoch ("q", 1)) and holds no delete files; `mor` is
    * `clean` plus an epoch-stamped merge-on-read upsert (one delete file). */
  private lazy val bases: Map[String, String] = {
    val clean = tmpDir("carry_clean")
    val store = new TableStore(spark, clean)
    store.commit("t",
      Scd2.withScd2Columns((1 to 8).map(i =>
          (s"k$i", if (i <= 4) "a" else "b", i, i * 1.5, s"j$i", ts))
        .toDF("pk", "p", "qty", "val", "junk", "extraction_timestamp")),
      "create", partitionBy = Seq("p"))
    store.addCheckConstraint("t", "qty_pos", "qty > 0")
    store.setWriteOrder("t", Seq("pk"))
    store.renameColumn("t", "val", "amount")
    val schema = store.read("t").schema
    store.evolveSchema("t", StructType(schema.filterNot(_.name == "junk")).json, Seq("junk"))
    // a streaming sink's epoch commit: files staged under PHYSICAL names
    val stage = tmpDir("carry_stage")
    rows(9).withColumnRenamed("amount", "val").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val f = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = f.listStatus(new Path(stage)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(p => (p, p.getName)).toSeq
    store.commitStaged("t", store.manifests("t").last.files, staged, "stream-append",
      store.manifests("t").last.schemaJson, Some(("q", 1L)))
    val mor = tmpDir("carry_mor")
    copyTable(clean, mor)
    val upd = new TableStore(spark, mor)
    upd.upsertMoR("t", rows(1).withColumn("qty", lit(11)), Seq("pk"), Some(("q", 2L)))
    Map("clean" -> clean, "mor" -> mor)
  }

  private def copyTable(from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(from, "t")
    val fs = src.getFileSystem(conf)
    assert(FileUtil.copy(fs, src, fs, new Path(to, "t"), false, conf))
  }

  /** A copy of base table `t` in a fresh warehouse, with a catalog over it. */
  private def fresh(base: String): (TableStore, String) = {
    val wh = tmpDir("carry_case")
    copyTable(bases(base), wh)
    val cat = s"gcc${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (new TableStore(spark, wh), cat)
  }

  private case class Case(name: String, base: String, expected: Carry,
      prep: TableStore => Unit = _ => (), table: String = "t")(
      val op: (TableStore, String) => Unit)

  private val cases = Seq(
    Case("append", "mor", Kept.copy(deleteSeqs = 1))((s, _) => s.append("t", rows(10))),
    Case("overwrite commit", "mor", Kept.copy(dropped = Seq.empty))((s, _) =>
      s.commit("t", rows(1, 2, 7), "overwrite")),
    Case("Merge", "mor", Kept.copy(deleteSeqs = 1))((s, _) =>
      Merge.into(s, "t").using(rows(6).withColumn("qty", lit(60)))
        .on(Seq("pk")).whenMatchedUpdate().run()),
    Case("scd2Simple", "mor", Kept.copy(deleteSeqs = 1))((s, _) =>
      Scd2.scd2Simple(s, "t", rows(6).select("pk", "p", "qty", "amount", "extraction_timestamp")
        .withColumn("extraction_timestamp", lit(later)))),
    Case("upsertMoR", "mor", Kept.copy(deleteSeqs = 2))((s, _) =>
      s.upsertMoR("t", rows(3).withColumn("qty", lit(30)), Seq("pk"))),
    Case("applyCdcMoR", "mor", Kept.copy(deleteSeqs = 2))((s, _) =>
      s.applyCdcMoR("t", rows(3, 4).withColumn("_del", col("pk") === "k4"),
        Seq("pk"), "_del")),
    Case("deleteWhereMoR", "mor", Kept.copy(deleteSeqs = 2))((s, _) =>
      s.deleteWhereMoR("t", "qty = 7")),
    Case("compactDeletes", "mor", Kept.copy(deleteSeqs = 1))((s, _) => s.compactDeletes("t")),
    Case("rewritePositionDeletes", "mor", Kept.copy(deleteSeqs = 2),
      prep = s => { s.deleteWhereMoR("t", "qty = 7"); s.deleteWhereMoR("t", "qty = 8") })(
      (s, _) => s.rewritePositionDeletes("t")),
    Case("compact", "mor", Kept.copy(dropped = Seq.empty))((s, _) => s.compact("t")),
    Case("compactWhere", "mor", Kept.copy(deleteSeqs = 1))((s, _) =>
      s.compactWhere("t", "qty", 5, 8)),
    Case("setWriteOrder", "mor", Kept.copy(writeOrder = Seq("qty"), deleteSeqs = 1))((s, _) =>
      s.setWriteOrder("t", Seq("qty"))),
    Case("evolveSchema", "mor", Kept.copy(deleteSeqs = 1))((s, _) =>
      s.evolveSchema("t", s.read("t").schema.add("note", StringType).json)),
    Case("widenColumnType", "clean", Kept)((s, _) => s.widenColumnType("t", "qty", LongType)),
    Case("renameColumn", "clean", Kept.copy(columnMap = Seq("amt" -> "val")))((s, _) =>
      s.renameColumn("t", "amount", "amt")),
    Case("SQL INSERT", "mor", Kept.copy(deleteSeqs = 1))((s, cat) => {
      rows(11).createOrReplaceTempView("carry_src")
      spark.sql(s"INSERT INTO $cat.ns.t SELECT * FROM carry_src")
    }),
    Case("SQL UPDATE", "mor", Kept.copy(deleteSeqs = 1))((s, cat) =>
      spark.sql(s"UPDATE $cat.ns.t SET qty = 70 WHERE pk = 'k7'")),
    Case("CTAS/RTAS", "mor", Carry(Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty, 0))(
      (s, cat) => {
        rows(1, 2).createOrReplaceTempView("carry_src")
        spark.sql(s"REPLACE TABLE $cat.ns.t USING graft AS SELECT * FROM carry_src")
      }),
    Case("stage/publish", "clean", Kept)((s, _) =>
      s.publishStaged("t", s.stageAppend("t", rows(12)))),
    Case("txn append", "clean", Kept)((s, _) =>
      s.beginTransaction().stageAppend("t", rows(12)).commit()),
    Case("branch fast-forward", "clean", Kept)((s, _) => {
      s.createBranch("t", "b")
      s.appendToBranch("t", "b", rows(12))
      s.fastForward("t", "b")
    }),
    Case("rollback", "mor", Kept)((s, _) => s.rollbackTo("t", s.currentVersion("t") - 1)),
    Case("clone", "clean", Kept, table = "t2")((s, _) => s.cloneTable("t", "t2")))

  cases.foreach { c =>
    test(s"${c.name} carries the table's identity into its one new snapshot") {
      val (store, cat) = fresh(c.base)
      c.prep(store)
      val before = if (store.exists(c.table)) store.currentVersion(c.table) else 0L
      c.op(store, cat)
      val head = store.manifests(c.table).last
      assert(head.version == before + 1, s"${c.name} committed ${head.version - before} snapshots")
      assert(store.currentVersion(c.table) == head.version)
      assert(carryOf(head) == c.expected)
    }
  }

  test("the base tables hold what the cases assume") {
    val clean = new TableStore(spark, bases("clean")).manifests("t").last
    assert(carryOf(clean) == Kept.copy(streamEpoch = Some(("q", 1L))))
    val mor = new TableStore(spark, bases("mor")).manifests("t").last
    assert(carryOf(mor) == Kept.copy(deleteSeqs = 1, streamEpoch = Some(("q", 2L))))
    assert(new TableStore(spark, bases("mor")).read("t").count() == 9)
  }
}
