package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.GraftCatalog
import graft.core.{TableStore, TracedStore}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

/** The paper's derivation axis: TPC-DS over managed tables that take
  * delta updates, read through the SQL catalog.
  *
  * Set-up ingests the tables of the committed sf0.01 fixture that the
  * texts read, unpartitioned, into a graft warehouse behind a
  * `GraftCatalog`: store_sales afresh for every copy, the other tables,
  * which nothing changes, as a file copy of one ingest. The window opens
  * with a pass over the pristine tables. Each round then lands
  * [[Derive.CdcPerRound]] seeded CDC batches in `store_sales` through
  * `TableStore.applyCdcMoR` (updates, inserts and deletes, kept as
  * merge-on-read delete files), runs a pass that reads through them, and
  * closes with `CALL compact`. A pass runs the fixed TPC-DS texts in
  * `perfbench/tpcds` (from DuckDB's `tpcds` extension), one aggregate of
  * `store_sales VERSION AS OF` two commits back, and one read of
  * `store_sales$history`.
  *
  * Checks: a pass over the pristine tables against DuckDB's answers (the
  * `.parquet` file beside each text); time travel against the answer the
  * model recorded at each commit; the history against the commits made;
  * and at the end, `store_sales` against a plain-Spark model of the CDC
  * stream by row count and row hash, and the last pass through delete
  * files against the same texts run in plain Spark over the model.
  */
final class Derive(spark: SparkSession, work: Path, fixtures: Path, queryDir: Path, seed: Long,
    tracer: Option[Tracer]) extends Workload {
  import Derive._

  val name = "derive"
  def roundSeconds: Double = RoundSeconds

  private val queries: Seq[(String, String)] = Files.list(queryDir).iterator().asScala
    .filter(_.toString.endsWith(".sql")).toSeq.sortBy(_.toString)
    .map(p => p.getFileName.toString.stripSuffix(".sql") -> new String(Files.readAllBytes(p), "UTF-8"))
  require(queries.nonEmpty, s"no query texts in $queryDir")
  /** The fixture tables the texts read. */
  private val tables: Seq[String] = Files.list(fixtures).iterator().asScala
    .map(_.getFileName.toString).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSeq.sorted
    .filter(t => queries.exists { case (_, text) => s"\\b$t\\b".r.findFirstIn(text).isDefined })
  require(tables.contains(Table), s"missing input $fixtures/$Table.parquet")
  private lazy val oracle: Map[String, Seq[Row]] = queries.map { case (q, _) =>
    q -> spark.read.parquet(queryDir.resolve(s"$q.parquet").toString).collect().toSeq
  }.toMap

  private lazy val base: Array[Row] = spark.read.parquet(fixtures.resolve(s"$Table.parquet").toString).collect()
  private lazy val schema: StructType = spark.read.parquet(fixtures.resolve(s"$Table.parquet").toString).schema
  private lazy val cdcSchema = StructType(schema.fields :+ StructField(DeleteCol, BooleanType))
  private def idx(c: String) = schema.fieldIndex(c)

  private var wh: Path = _
  private var cat: String = _
  private var store: TableStore = _
  private var plain: TableStore = _
  private var rng: java.util.Random = _

  // model: the live rows of store_sales by key, with a key list to sample
  private val live = mutable.HashMap[(Int, Int), Row]()
  private val keys = mutable.ArrayBuffer[(Int, Int)]()
  private val keyPos = mutable.HashMap[(Int, Int), Int]()
  private var sumQty = 0L
  private var nextTicket = 0
  private var gen = 0
  private val answers = mutable.Map[Long, (Long, Long)]() // version -> (rows, sum of quantity)
  /** Per text, the latest answer read through delete files: (op, CDC batches before it, rows). */
  private val lastPass = mutable.Map[String, (Int, Int, Array[Row])]()
  private var retained = Seq.empty[Long]

  def tableDir: Path = wh.resolve(Table)

  /** The tables other than store_sales, built once, [[IngestThreads]] at a
    * time: the workload never changes them, so every copy starts from a
    * file copy of these. */
  private lazy val dims: Path = {
    val d = work.resolve("derive-dims")
    val s = new TableStore(spark, d.toString)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(IngestThreads)
    try tables.filter(_ != Table).map { t =>
      pool.submit(() => s.commit(t, spark.read.parquet(fixtures.resolve(s"$t.parquet").toString), "bulk_insert"))
    }.foreach(_.get())
    finally pool.shutdown()
    d
  }

  def prepare(tag: String): Unit = {
    if (wh != null) Tables.deleteTree(wh)
    wh = work.resolve(s"derive-$tag")
    cat = s"d_${tag.replace('-', '_')}"
    val catalogClass = if (tracer.isDefined) classOf[TracedCatalog] else classOf[GraftCatalog]
    spark.conf.set(s"spark.sql.catalog.$cat", catalogClass.getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    store = tracer.map(t => new TracedStore(spark, wh.toString, t): TableStore)
      .getOrElse(new TableStore(spark, wh.toString))
    plain = new TableStore(spark, wh.toString)
    Tables.copyTree(dims, wh)
    spark.sql(s"USE $cat")

    rng = new java.util.Random(seed)
    live.clear(); keys.clear(); keyPos.clear(); answers.clear(); lastPass.clear()
    sumQty = 0L; gen = 0; nextTicket = NewTicketBase
    base.foreach(put)
  }

  /** The store_sales ingest: the tables the workload never changes come
    * from [[dims]], staged by [[prepare]]. */
  def load(): Unit = {
    store.commit(Table, spark.read.parquet(fixtures.resolve(s"$Table.parquet").toString), "bulk_insert")
    recordVersion()
  }

  private def keyOf(r: Row): (Int, Int) = (r.getInt(idx("ss_item_sk")), r.getInt(idx("ss_ticket_number")))
  private def qty(r: Row): Long = if (r.isNullAt(idx("ss_quantity"))) 0L else r.getInt(idx("ss_quantity")).toLong

  private def put(r: Row): Unit = {
    val k = keyOf(r)
    live.put(k, r).foreach(old => sumQty -= qty(old))
    if (!keyPos.contains(k)) { keyPos(k) = keys.size; keys += k }
    sumQty += qty(r)
  }

  private def remove(k: (Int, Int)): Unit = live.remove(k).foreach { old =>
    sumQty -= qty(old)
    val i = keyPos.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; keyPos(last) = i }
  }

  private def recordVersion(): Unit = {
    answers(plain.currentVersion(Table)) = (live.size.toLong, sumQty)
    retained = plain.manifests(Table).map(_.version).sorted
  }

  def version: Long = plain.currentVersion(Table)

  /** A pass over the pristine tables, checked against DuckDB's answers. */
  def firstSteps(): Seq[() => Step] = pass()

  /** [[CdcPerRound]] CDC batches, a pass that reads through their delete
    * files, then compaction. */
  def round(): Seq[() => Step] =
    Seq.fill(CdcPerRound)(() => cdcStep()) ++ pass() :+ (() => compactStep())

  def finalSteps(): Seq[() => Step] = Nil

  /** One round: CDC commits, a pass through merge-on-read scans, and
    * compaction. The window's pristine pass is the first to plan the same
    * texts over a table without delete files. */
  def warmup(): Seq[() => Step] = round()

  private def pass(): Seq[() => Step] =
    queries.map { case (q, text) => () => queryStep(q, text) } ++
      Seq(() => asOfStep(), () => historyStep())

  private def sql(text: String): Array[Row] =
    tracer.map(_.span("GraftCatalog sql", "catalog")(spark.sql(text).collect()))
      .getOrElse(spark.sql(text).collect())

  /** A TPC-DS text; on the pristine tables, checked against DuckDB, else
    * kept for [[check]]. */
  private def queryStep(q: String, text: String): Step = {
    val pristine = gen == 0
    val g = gen
    Step(Step.Read, q, () => sql(text),
      check = Some((got: Any) => if (!pristine) None else Answers.compare(got.asInstanceOf[Array[Row]].toSeq, oracle(q))),
      resultRows = (got: Any) => got.asInstanceOf[Array[Row]].length.toLong,
      after = (id, got) => if (!pristine) lastPass(q) = (id, g, got.asInstanceOf[Array[Row]]))
  }

  private def asOfStep(): Step = {
    val older = retained.filter(answers.contains).dropRight(1)
    val v = if (older.isEmpty) retained.last else older(math.max(0, older.size - AsOfBack))
    Step(Step.Read, "as_of", () => {
      val r = sql(s"SELECT count(*), CAST(coalesce(sum(ss_quantity), 0) AS BIGINT) FROM $Table VERSION AS OF $v").head
      (r.getLong(0), r.getLong(1))
    }, expected = answers.get(v), resultRows = _ => 1L)
  }

  private def historyStep(): Step =
    Step(Step.Read, "history", () => {
      val r = sql(s"SELECT count(*), max(version) FROM `$Table$$history`").head
      (r.getLong(0), r.getLong(1))
    }, expected = Some((retained.size.toLong, retained.last)), resultRows = _ => 1L)

  private def compactStep(): Step = {
    val call = s"CALL $cat.system.compact(table => '$Table', target_file_bytes => $CompactTargetBytes)"
    Step(Step.Maint, "compact",
      () => tracer.map(_.span("GraftCatalog CALL compact", "core.maint")(spark.sql(call).collect()))
        .getOrElse(spark.sql(call).collect()).length,
      after = (_, _) => recordVersion())
  }

  /** Draws one CDC batch from the model and lands it as a parquet file,
    * untimed; the step applies it. */
  private def cdcStep(): Step = {
    gen += 1
    val picked = mutable.LinkedHashSet[(Int, Int)]()
    while (picked.size < Updates + Deletes) picked += keys(rng.nextInt(keys.size))
    val (upd, del) = picked.toSeq.splitAt(Updates)
    val qi = idx("ss_quantity"); val pi = idx("ss_ext_sales_price"); val ni = idx("ss_net_profit")
    val ti = idx("ss_ticket_number")
    def dec(cents: Long) = java.math.BigDecimal.valueOf(cents, 2)
    def image(r: Row): Row = {
      val v = r.toSeq.toArray[Any]
      v(qi) = 1 + rng.nextInt(100)
      v(pi) = dec(rng.nextInt(1000000).toLong)
      v(ni) = dec(rng.nextInt(1000000).toLong - 500000)
      Row.fromSeq(v.toSeq)
    }
    val updates = upd.map(k => image(live(k)))
    val inserts = (0 until Inserts).map { _ =>
      val v = image(live(keys(rng.nextInt(keys.size)))).toSeq.toArray[Any]
      v(ti) = nextTicket; nextTicket += 1
      Row.fromSeq(v.toSeq)
    }
    val deletes = del.map(live)
    val cdc = updates.map(r => Row.fromSeq(r.toSeq :+ false)) ++ inserts.map(r => Row.fromSeq(r.toSeq :+ false)) ++
      deletes.map(r => Row.fromSeq(r.toSeq :+ true))
    val landed = wh.resolve(s"_landing/cdc-$gen").toString
    spark.createDataFrame(cdc.asJava, cdcSchema).coalesce(1).write.mode("overwrite").parquet(landed)
    Step(Step.Write, "cdc_mor", () =>
      store.applyCdcMoR(Table, spark.read.parquet(landed), KeyCols, DeleteCol),
      deltaRows = cdc.size, deltaBytes = cdc.size * RowBytes,
      after = (_, _) => {
        (updates ++ inserts).foreach(put)
        del.foreach(remove)
        recordVersion()
      })
  }

  /** `store_sales` against the model by row count and row hash; then the
    * last pass that read through delete files against the same texts run
    * in plain Spark, over temporary views of the model's rows and the
    * fixture's other tables. */
  def check(lastWriteOp: Int): Seq[(Int, String)] = {
    val cols = schema.fieldNames.toSeq
    val model = spark.createDataFrame(live.values.toSeq.asJava, schema)
    val (expRows, expHash) = Tables.digest(model, cols)
    val (gotRows, gotHash) = Tables.digest(plain.read(Table), cols)
    val table = if (expRows == gotRows && expHash == gotHash) Nil
      else Seq(lastWriteOp ->
        s"final $Table: $gotRows rows, model $expRows; row hashes differ: ${expHash != gotHash}")
    val current = lastPass.toSeq.filter(_._2._2 == gen).sortBy(_._2._1)
    val views = (Table -> model) +: tables.filter(_ != Table)
      .map(t => t -> spark.read.parquet(fixtures.resolve(s"$t.parquet").toString))
    views.foreach { case (t, df) => df.createOrReplaceTempView(t) }
    val passes = try current.flatMap { case (q, (id, _, got)) =>
      Answers.compare(got.toSeq, spark.sql(queries.toMap.apply(q)).collect().toSeq)
        .map(why => id -> s"$q through delete files, against plain Spark: $why")
    } finally views.foreach { case (t, _) => spark.catalog.dropTempView(t) }
    val missing = if (gen > 0 && current.size != queries.size)
      Seq(lastWriteOp -> s"${current.size} of ${queries.size} texts read the final CDC state") else Nil
    table ++ passes ++ missing
  }

  def snapshotDataBytes: Long = plain.manifests(Table).maxBy(_.version).files.map(_.sizeBytes).sum

  def layerMetrics(traced: Set[Int], ops: Seq[OpTime], t: Tracer): Seq[(String, Double, String)] =
    Curation.bypassed ++ Tables.gauges(plain, Table, tableDir)
}

object Derive {
  val Table = "store_sales"
  val KeyCols = Seq("ss_item_sk", "ss_ticket_number")
  val DeleteCol = "record_deleted"
  /** Rows of one CDC batch by change, and batches per round: chosen, not
    * taken from a source. */
  val Updates = 120
  val Inserts = 40
  val Deletes = 40
  val CdcPerRound = 2
  val AsOfBack = 2
  val NewTicketBase = 10000000
  val IngestThreads = 3
  val CompactTargetBytes: Long = 4L << 20
  /** Nominal wall seconds of one round on four CPUs. */
  val RoundSeconds = 7.0
  /** Logical bytes of one CDC row: 4 per int column, 8 per decimal, one
    * for the delete flag. */
  val RowBytes: Long = 11 * 4 + 12 * 8 + 1
}
