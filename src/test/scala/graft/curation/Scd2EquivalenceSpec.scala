package graft.curation

import graft.SparkSpec
import graft.core.{Merge, TableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** The one-pass SCD2 plans must produce row for row the table the earlier
  * formulations produce, and [[TableStore.filesHitByKeys]]'s driver-side
  * range test must split files exactly as its range join does.
  *
  * The oracles, kept here only: scd2Simple as the reference's staged
  * two-leg MERGE through [[Merge]], scd2Complex as `distinct` delta keys,
  * `row_number` over (pk, ts) for the replay dedup and a separate LEAD
  * window for the re-chain. Seeded random batches mix newer and stale
  * versions, new keys, replayed (pk, ts) pairs with equal or different
  * payloads, null payloads, null timestamps and the odd null key.
  */
class Scd2EquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def stagedMergeSimple(store: TableStore, table: String, delta: DataFrame,
      pkCol: String = "pk", tsCol: String = "extraction_timestamp"): Long = {
    val current = store.read(table).filter(col("is_current"))
      .select(col(pkCol).as("__existing_pk")).distinct()
    val withCols = Scd2.withScd2Columns(delta, tsCol)
    val legClose = withCols.withColumn("__merge_key", col(pkCol))
    val legInsert = withCols
      .join(current, col(pkCol) === col("__existing_pk"), "left_semi")
      .withColumn("__merge_key", lit(null).cast("string"))
    Merge.into(store, table)
      .using(legClose.unionByName(legInsert))
      .onKeys(Seq(pkCol -> "__merge_key"), extraCondition = Some(col("is_current")))
      .withCardinalityCheck(false)
      .whenMatchedUpdate(
        condition = Some(Merge.source(tsCol) > col(tsCol)),
        set = Some(Map(
          "end_datetime" -> Merge.source(tsCol),
          "is_current" -> lit(false))))
      .whenNotMatchedInsert()
      .run()
  }

  private def rowNumberComplex(store: TableStore, table: String, delta: DataFrame,
      pkCol: String = "pk", tsCol: String = "extraction_timestamp"): Long = {
    val (hitFiles, untouchedFiles) =
      store.filesHitByKeys(table, pkCol, delta.select(col(pkCol)))
    val target = store.readFiles(table, hitFiles)
    val payloadCols = target.columns
      .filterNot(Seq("start_datetime", "end_datetime", "is_current").contains)
    val deltaKeys = delta.select(col(pkCol)).distinct()
    val affectedHistory = target.join(deltaKeys, Seq(pkCol), "left_semi")
      .select(payloadCols.map(col).toSeq: _*)
    val untouched = target.join(deltaKeys, Seq(pkCol), "left_anti")
    val dedupW = Window.partitionBy(col(pkCol), col(tsCol))
      .orderBy(payloadCols.map(col).toSeq: _*)
    val deduped = affectedHistory
      .unionByName(delta.select(payloadCols.map(col).toSeq: _*))
      .withColumn("__rn", row_number().over(dedupW))
      .filter(col("__rn") === 1).drop("__rn")
    val chainW = Window.partitionBy(col(pkCol)).orderBy(col(tsCol))
    val sentinel = to_timestamp(lit(Scd2.SentinelTs))
    val rechained = deduped
      .withColumn("start_datetime", col(tsCol))
      .withColumn("end_datetime", coalesce(lead(col(tsCol), 1).over(chainW), sentinel))
      .withColumn("is_current", col("end_datetime") === sentinel)
    store.commitFiles(table, untouchedFiles,
      Some(untouched.unionByName(rechained.select(target.columns.map(col).toSeq: _*))),
      "scd2_complex")
  }

  private type Row5 = (Option[String], Option[Int], Option[String], Option[String])

  private val BaseKeys = ('A' to 'H').map(_.toString)

  private def toDf(rows: Seq[Row5]): DataFrame =
    rows.toDF("pk", "qty", "note", "ts_s")
      .withColumn("extraction_timestamp", to_timestamp(col("ts_s"))).drop("ts_s")

  /** Bulk rows at 2022-01-15, range-clustered on pk into three files so
    * merges hit some files and carry the others. */
  private def seed(store: TableStore): Unit = {
    val base = BaseKeys.zipWithIndex.map { case (k, i) =>
      (Option(k), Option(i), if (i % 3 == 0) None else Some(s"n$i"),
        Option("2022-01-15 00:00:00"))
    }
    store.commit("t", Scd2.withScd2Columns(toDf(base).repartitionByRange(3, col("pk"))),
      "bulk_insert")
  }

  /** One batch: versions newer and older than the bulk rows, new keys, null
    * payloads and timestamps, and replays of earlier (pk, ts) pairs, from
    * this batch or from `earlier` batches, with equal or new payloads. */
  private def randomBatch(rnd: Random, earlier: Seq[Row5]): Seq[Row5] = {
    val out = scala.collection.mutable.ArrayBuffer[Row5]()
    (0 until 2 + rnd.nextInt(8)).foreach { _ =>
      val pool = out.toSeq ++ earlier
      if (pool.nonEmpty && rnd.nextDouble() < 0.25) {
        val r = pool(rnd.nextInt(pool.size))
        out += (if (rnd.nextBoolean()) r else r.copy(_2 = Some(rnd.nextInt(100))))
      } else {
        val u = rnd.nextDouble()
        val pk =
          if (u < 0.04) None
          else if (u < 0.2) Some(s"N${rnd.nextInt(3)}")
          else Some(BaseKeys(rnd.nextInt(BaseKeys.size)))
        val ts =
          if (rnd.nextDouble() < 0.1) None
          else if (rnd.nextDouble() < 0.3) Some(f"2022-01-${1 + rnd.nextInt(15)}%02d 00:00:00")
          else Some(f"2022-02-${1 + rnd.nextInt(28)}%02d 00:00:00")
        val qty = if (rnd.nextDouble() < 0.15) None else Some(rnd.nextInt(100))
        val note = if (rnd.nextDouble() < 0.3) None else Some(s"x${rnd.nextInt(3)}")
        out += ((pk, qty, note, ts))
      }
    }
    out.toSeq
  }

  private def contents(store: TableStore): Seq[String] =
    store.read("t").select("pk", "qty", "note", "extraction_timestamp",
      "start_datetime", "end_datetime", "is_current")
      .collect().map(_.toString).sorted.toSeq

  private def assertSameChain(seeds: Range,
      now: (TableStore, DataFrame) => Long, oracle: (TableStore, DataFrame) => Long): Unit =
    seeds.foreach { s =>
      val rnd = new Random(s)
      val (got, want) = (new TableStore(spark, tmpDir("eq_new")),
        new TableStore(spark, tmpDir("eq_old")))
      seed(got); seed(want)
      var earlier = Seq.empty[Row5]
      (1 to 3).foreach { b =>
        val batch = randomBatch(rnd, earlier)
        earlier ++= batch
        now(got, toDf(batch))
        oracle(want, toDf(batch))
        val (g, w) = (contents(got), contents(want))
        assert(g == w, s"seed $s batch $b: ${batch.mkString(", ")}\n" +
          s"only new: ${g.diff(w)}\nonly oracle: ${w.diff(g)}")
      }
    }

  test("scd2Simple equals the staged two-leg MERGE, row for row") {
    assertSameChain(1 to 5, Scd2.scd2Simple(_, "t", _), stagedMergeSimple(_, "t", _))
  }

  test("scd2Complex equals distinct keys + row_number dedup + LEAD re-chain, row for row") {
    assertSameChain(11 to 15, Scd2.scd2Complex(_, "t", _), rowNumberComplex(_, "t", _))
  }

  /** The driver path (keys under the cap: ranges, then blooms) against the
    * range-join path (`bloomMaxKeys` below the key count). With no bloom on
    * the column the splits must be equal; with one, the driver may only
    * drop files the range join hits. Either way the hit files must hold
    * every row of the table whose key is probed. */
  private def checkSplits(store: TableStore, column: String, keySets: Seq[DataFrame],
      bloom: Boolean = false): Unit =
    keySets.foreach { keys =>
      def paths(fs: Seq[TableStore.FileEntry]) = fs.map(_.path).toSet
      val (dHit, dUntouched) = store.filesHitByKeys("t", column, keys)
      val saved = store.bloomMaxKeys
      store.bloomMaxKeys = 0
      val (jHit, jUntouched) =
        try store.filesHitByKeys("t", column, keys) finally store.bloomMaxKeys = saved
      val probe = keys.collect().map(_.get(0)).toSeq
      assert(paths(dHit) ++ paths(dUntouched) == paths(jHit) ++ paths(jUntouched))
      if (bloom) assert(paths(dHit).subsetOf(paths(jHit)), s"keys $probe")
      else assert(paths(dHit) == paths(jHit), s"keys $probe: driver ${paths(dHit)} join ${paths(jHit)}")
      val keyed: DataFrame => Long = _.join(keys.distinct(), Seq(column), "left_semi").count()
      assert(keyed(store.readFiles("t", dHit)) == keyed(store.read("t")), s"keys $probe")
    }

  test("filesHitByKeys: driver and range-join paths agree on long and string keys") {
    val store = new TableStore(spark, tmpDir("fhk_long"))
    store.commit("t", (1 to 1000).map(i => (i.toLong, f"s$i%04d")).toDF("id", "s")
      .repartitionByRange(8, col("id")), "create")
    val rnd = new Random(5)
    val ids = Seq(Seq(1L), Seq(1000L), Seq(0L, 1001L), Seq(125L, 126L, 900L)) ++
      Seq.fill(6)(Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(1200).toLong - 100))
    checkSplits(store, "id", ids.map(_.toDF("id")) :+ Seq(3, 500).toDF("id"))
    checkSplits(store, "s", Seq(Seq("s0001"), Seq("s0500", "zz"), Seq("a", "s09")).map(_.toDF("s")))
  }

  test("filesHitByKeys: driver and range-join paths agree on mixed stat kinds") {
    val store = new TableStore(spark, tmpDir("fhk_kinds"))
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    store.commitPartitioned("t", Seq((1L, d1)).toDF("id", "day"), Seq("day"), "create")
    store.commitFiles("t", store.manifests("t").maxBy(_.version).files,
      Some(Seq((2L, d2)).toDF("id", "day")), "append")
    assert(store.manifests("t").maxBy(_.version).files
      .flatMap(_.stats.get("day")).map(_.kind).distinct.size == 2)
    checkSplits(store, "day", Seq(Seq(d1), Seq(d2), Seq(d1, d2),
      Seq(java.sql.Date.valueOf("2030-06-06"))).map(_.toDF("day")))
  }

  test("filesHitByKeys: driver and range-join paths agree on decimals and timestamps") {
    val store = new TableStore(spark, tmpDir("fhk_dec"))
    store.commit("t", (1 to 1000).map(i => (i.toLong, i)).toDF("id", "cents")
      .withColumn("price", (col("cents") / 100).cast("decimal(18,2)"))
      .withColumn("at", timestamp_seconds(col("cents") * 3600L))
      .drop("cents").repartitionByRange(4, col("price")), "create")
    assert(store.manifests("t").last.files.flatMap(_.stats.get("price")).forall(_.kind == "dec2"))
    def dec(vs: String*): DataFrame = vs.toDF("price").select(col("price").cast("decimal(18,2)"))
    checkSplits(store, "price", Seq(dec("0.50"), dec("0.01", "10.00"), dec("2.51", "7.49"),
      dec("11.00"), dec("0.00", "5.00")))
    def ts(hours: Long*): DataFrame =
      hours.toDF("h").select(timestamp_seconds(col("h") * 3600L).as("at"))
    checkSplits(store, "at", Seq(ts(1), ts(1000), ts(250, 251), ts(2000), ts(0, 600)))
  }

  test("filesHitByKeys: blooms only narrow the range-join split") {
    val store = new TableStore(spark, tmpDir("fhk_bloom"))
    val odds = (1L to 99L by 2).map(i => (i, s"o$i"))
    val evens = (2L to 100L by 2).map(i => (i, s"e$i"))
    store.commit("t", spark.sparkContext.parallelize(odds ++ evens, 2).toDF("id", "s"),
      "create", bloomColumns = Seq("id", "s"))
    checkSplits(store, "id", Seq(Seq(2L), Seq(3L), Seq(2L, 3L), Seq(500L)).map(_.toDF("id")),
      bloom = true)
    checkSplits(store, "s", Seq(Seq("e2"), Seq("o3", "e4")).map(_.toDF("s")), bloom = true)
    // the driver path really is the narrower one here
    assert(store.filesHitByKeys("t", "id", Seq(2L).toDF("id"))._1.size == 1)
  }
}
