package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{TableStore, TracedStore}
import graft.curation.Scd2
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The paper's curation axis: a type-2 SCD table kept from daily CDC.
  *
  * `Scd2.bulkInsert` loads the store_sales rows of the committed TPC-DS
  * fixture. Then a chain of daily batches alternates `scd2Simple` and
  * `scd2Complex` at update proportions 0.001, 0.01 and 0.1, each once per
  * kind in every six days; the seed draws the keys, versions and values.
  * A simple day updates a uniform sample of keys at the next day's
  * timestamp. A complex day also carries late-arriving versions,
  * keys with several versions in the day, and new keys, at the shares set
  * in the companion object. Every six days `compact` and
  * `expireSnapshots` run; history is never rolled back. After each batch a
  * reader aggregates the current rows, the current rows as of two versions
  * back, and one key's history. The chain ends with one batch at
  * proportion 0.99, where Athena failed in the paper.
  *
  * Checks: every read against an in-memory model of the chain, and at the
  * end the SCD2 invariants plus the whole table against a plain-Spark
  * rebuild of the chain from all the inputs.
  */
final class Curation(spark: SparkSession, work: Path, fixtures: Path, seed: Long,
    tracer: Option[Tracer]) extends Workload {
  import Curation._

  val name = "curation"
  def roundSeconds: Double = RoundSeconds

  private val fixtureFile = fixtures.resolve("store_sales.parquet")
  require(java.nio.file.Files.isRegularFile(fixtureFile), s"missing input $fixtureFile")
  private lazy val fixture: Array[Row] = spark.read.parquet(fixtureFile.toString)
    .orderBy("ss_ticket_number", "ss_item_sk").collect()
  private lazy val fixtureSchema: StructType = spark.read.parquet(fixtureFile.toString).schema
  private lazy val qtyIdx = fixtureSchema.fieldIndex("ss_quantity")
  private lazy val ticketIdx = fixtureSchema.fieldIndex("ss_ticket_number")
  private lazy val itemIdx = fixtureSchema.fieldIndex("ss_item_sk")
  private lazy val netPaidIdx = fixtureSchema.fieldIndex("ss_net_paid")
  private lazy val deltaSchema = StructType(fixtureSchema.fields ++ Seq(
    StructField("pk", StringType), StructField(TsCol, TimestampType)))
  private def nf = fixture.length
  private def baseKeys = nf

  // the live copy of the table
  private var wh: Path = _
  private var store: TableStore = _
  private var plain: TableStore = _
  private var rng: java.util.Random = _

  // model: per key, template fixture row, ticket, current ts and quantity
  private val keyTemplate = mutable.ArrayBuffer[Int]()
  private val keyTicket = mutable.ArrayBuffer[Int]()
  private val curTs = mutable.ArrayBuffer[Long]()
  private val curQty = mutable.ArrayBuffer[Long]() // NoQty when null
  private var sumQty = 0L
  private var modelRows = 0L
  private val answers = mutable.Map[Long, (Long, Long)]() // version -> (current rows, sum qty)
  private var retained = Seq.empty[Long]
  private var day = 0
  /** Delta versions of each key, as (ts, quantity). */
  private val keyVersions = mutable.HashMap[Int, List[(Long, Long)]]()
  private var lastTouched = Seq.empty[Int]
  /** Keys with a version since the bulk load, in the order they got one. */
  private val touched = mutable.ArrayBuffer[Int]()

  private val scd2Ops = mutable.ArrayBuffer[Scd2Op]()
  /** Each complex day's rows, and the shares of them that arrive late,
    * belong to a key with several versions in the day, or are new keys. */
  private val complexMix = mutable.ArrayBuffer[ListMap[String, Any]]()

  override def context: Seq[(String, Any)] = Seq("complex_days" -> complexMix.toList)

  def tableDir: Path = wh.resolve(Table)
  /** Where each day's extract lands, beside the table. */
  private def landing: Path = wh.resolve("_landing")

  def prepare(tag: String): Unit = {
    if (wh != null) Tables.deleteTree(wh)
    wh = work.resolve(s"curation-$tag")
    store = tracer.map(t => new TracedStore(spark, wh.toString, t): TableStore)
      .getOrElse(new TableStore(spark, wh.toString))
    plain = new TableStore(spark, wh.toString)
    rng = new java.util.Random(seed)
    keyTemplate.clear(); keyTicket.clear(); curTs.clear(); curQty.clear()
    answers.clear(); keyVersions.clear(); lastTouched = Seq.empty; touched.clear()
    scd2Ops.clear()
    day = 0; sumQty = 0L
    for (i <- 0 until nf) {
      keyTemplate += i
      keyTicket += fixture(i).getInt(ticketIdx)
      curTs += dayStart(0)
      val q = if (fixture(i).isNullAt(qtyIdx)) NoQty else fixture(i).getInt(qtyIdx).toLong
      curQty += q
      if (q != NoQty) sumQty += q
    }
    modelRows = baseKeys
    complexMix.clear()
  }

  def load(): Unit = {
    Scd2.bulkInsert(store, Table, baseDf)
    recordVersion()
  }

  /** The bulk load, from the fixture file. */
  private def baseDf: DataFrame =
    spark.read.parquet(fixtureFile.toString)
      .withColumn("pk", format_string("%09d-%06d", col("ss_ticket_number"), col("ss_item_sk")))
      .withColumn(TsCol, lit(new Timestamp(dayStart(0))))

  private def recordVersion(): Unit = {
    val v = plain.currentVersion(Table)
    answers(v) = (curTs.size.toLong, sumQty)
    retained = plain.manifests(Table).map(_.version).sorted
  }

  def version: Long = plain.currentVersion(Table)

  private def reads: Seq[() => Step] =
    Seq(() => currentRead(), () => asOfRead(), () => historyRead())

  private def days(ds: Seq[(Double, Boolean)], readRepeats: Int): Seq[() => Step] =
    ds.flatMap { case (p, complex) =>
      (() => { day += 1; batchStep(p, complex) }) +: Seq.fill(readRepeats)(reads).flatten
    }

  /** Six days, each proportion once per kind, simple and complex
    * alternating in a fixed order (so every run meets the same mix in the
    * same order), each followed by [[ReadRepeats]] rounds of the three
    * reads; then compaction and snapshot expiry. */
  def round(): Seq[() => Step] =
    days(RoundDays, ReadRepeats) ++
      Seq(() => maintStep(compact = true), () => maintStep(compact = false))

  def firstSteps(): Seq[() => Step] = Nil

  def finalSteps(): Seq[() => Step] = Seq(
    () => { day += 1; batchStep(FinalProportion, complex = false) },
    () => currentRead())

  /** One merge of each kind, the reads, maintenance and the final batch. */
  def warmup(): Seq[() => Step] =
    days(WarmupDays, 1) ++
      Seq(() => maintStep(compact = true), () => maintStep(compact = false)) ++ finalSteps()

  private def maintStep(compact: Boolean): Step =
    if (!compact)
      Step(Step.Maint, "expire_snapshots", () => { store.expireSnapshots(Table, KeepLast); 0L },
        after = (_, _) => recordVersion())
    else Step(Step.Maint, "compact", () => store.compact(Table, CompactTargetBytes),
      after = (_, _) => recordVersion())

  /** Draws one day's delta from the model, without applying it. */
  private def batchStep(p: Double, complex: Boolean): Step = {
    val live = curTs.size
    val n = math.max(1, math.round(p * live).toInt)
    val keys = sampleDistinct(live, n)
    val inBatch = mutable.HashSet[Int]() ++= keys
    val rows = mutable.ArrayBuffer[Array[Long]]()
    val d = day
    var late, multi = 0
    keys.foreach { k =>
      val u = rng.nextDouble()
      // late arrival: in place of the sampled key, a key updated since the
      // bulk load, not otherwise in the batch, gets a version stamped half
      // a day before its current one, so the version lands inside its
      // chain; the day's offset in ms keeps it from colliding with a
      // version already held
      lazy val lateKey = Iterator.fill(LateKeyTries)(touched(rng.nextInt(touched.size)))
        .find(inBatch.add)
      if (complex && u < LateShare && touched.nonEmpty && lateKey.isDefined) {
        val lk = lateKey.get
        val ts = curTs(lk) - 12 * Hour + d * 1000L
        if (ts < curTs(lk)) late += 1
        rows += deltaRow(lk, ts)
      } else if (complex && u < LateShare + MultiShare) {
        val versions = 2 + rng.nextInt(2)
        multi += versions
        (0 until versions).foreach(j => rows += deltaRow(k, dayStart(d) + j * Hour))
      } else rows += deltaRow(k, dayStart(d))
    }
    // brand-new keys, on complex days; simple days only update, as the
    // reference's delta generator does
    val fresh = if (complex) math.max(1, math.round(n * NewKeyShare).toInt) else 0
    (0 until fresh).foreach(j => rows += deltaRow(live + j, dayStart(d)))
    val batch = rows.toArray
    if (complex) complexMix += ListMap("proportion" -> p, "rows" -> batch.length,
      "late_share" -> late.toDouble / batch.length, "multi_version_share" -> multi.toDouble / batch.length,
      "new_key_share" -> fresh.toDouble / batch.length)
    val kind = if (complex) "scd2_complex" else "scd2_simple"
    val before = plain.manifests(Table).maxBy(_.version)
    // the day's extract lands as a parquet file before the timed merge
    val landed = landing.resolve(s"day-$d").toString
    spark.createDataFrame(batch.toSeq.map(toRow).asJava, deltaSchema).coalesce(1)
      .write.mode("overwrite").parquet(landed)
    Step(Step.Write, s"$kind@$p", () => {
      val delta = spark.read.parquet(landed)
      if (complex) span("Scd2.scd2Complex")(Scd2.scd2Complex(store, Table, delta))
      else span("Scd2.scd2Simple")(Scd2.scd2Simple(store, Table, delta))
    }, deltaRows = batch.length, deltaBytes = batch.length.toLong * rowBytes,
      after = (opId, _) => applyBatch(opId, kind, p, batch, before))
  }

  private def span[A](name: String)(body: => A): A =
    tracer.map(_.span(name, "curation")(body)).getOrElse(body)

  /** (key, ts, quantity, net paid cents) for key `k`; a key beyond the
    * known ones is new and takes a random fixture row as template. */
  private def deltaRow(k: Int, ts: Long): Array[Long] =
    Array(k.toLong, ts, 1L + rng.nextInt(100), rng.nextInt(2000000).toLong)

  private def ensureKey(k: Int): Unit =
    while (curTs.size <= k) {
      val t = rng.nextInt(nf)
      keyTemplate += t
      keyTicket += NewTicketBase + curTs.size
      curTs += Long.MinValue
      curQty += NoQty
    }

  private def toRow(d: Array[Long]): Row = {
    val k = d(0).toInt
    ensureKey(k)
    val t = fixture(keyTemplate(k))
    val vals = t.toSeq.toArray[Any]
    vals(ticketIdx) = keyTicket(k)
    vals(qtyIdx) = d(2).toInt
    vals(netPaidIdx) = java.math.BigDecimal.valueOf(d(3), 2)
    Row.fromSeq(vals.toSeq :+ pkOf(k) :+ new Timestamp(d(1)))
  }

  private def pkOf(k: Int): String =
    f"${keyTicket(k)}%09d-${fixture(keyTemplate(k)).getInt(itemIdx)}%06d"

  private def sampleDistinct(bound: Int, n: Int): Seq[Int] = {
    // Floyd's algorithm: n distinct keys of [0, bound), in draw order
    val chosen = mutable.LinkedHashSet[Int]()
    for (j <- bound - n until bound) {
      val t = rng.nextInt(j + 1)
      if (!chosen.add(t)) chosen.add(j)
    }
    chosen.toSeq
  }

  private def currentRead(): Step =
    Step(Step.Read, "current", () => aggregate(store.read(Table)),
      expected = Some(expectedNow), resultRows = _ => 1L)

  private def asOfRead(): Step = {
    // the version AsOfBack commits before the current one, or the oldest
    val older = retained.filter(answers.contains).dropRight(1)
    val v = if (older.isEmpty) retained.last else older(math.max(0, older.size - AsOfBack))
    Step(Step.Read, "as_of", () => aggregate(store.readVersion(Table, v)),
      expected = answers.get(v), resultRows = _ => 1L)
  }

  /** Every version of one key, oldest first: half the time a key the last
    * batch touched. */
  private def historyRead(): Step = {
    val k = if (lastTouched.nonEmpty && rng.nextBoolean()) lastTouched(rng.nextInt(lastTouched.size))
      else rng.nextInt(curTs.size)
    val base = if (k < baseKeys) {
      val t = fixture(keyTemplate(k))
      List((dayStart(0), if (t.isNullAt(qtyIdx)) NoQty else t.getInt(qtyIdx).toLong))
    } else Nil
    val exp = (base ++ keyVersions.getOrElse(k, Nil)).sortBy(_._1)
    val pk = pkOf(k)
    Step(Step.Read, "key_history", () =>
      store.read(Table).filter(col("pk") === pk).select("start_datetime", "ss_quantity")
        .collect().toSeq.map(r => (r.getTimestamp(0).getTime,
          if (r.isNullAt(1)) NoQty else r.getInt(1).toLong)).sortBy(_._1),
      expected = Some(exp), resultRows = _ => exp.size.toLong)
  }

  /** The model's (current rows, quantity sum) for the live snapshot. */
  private def expectedNow: (Long, Long) = (curTs.size.toLong, sumQty)

  private def aggregate(df: DataFrame): (Long, Long) = {
    val r = df.filter(col("is_current")).agg(count(lit(1)), sum("ss_quantity")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def applyBatch(opId: Int, kind: String, p: Double, batch: Array[Array[Long]],
      before: TableStore.Manifest): Unit = {
    batch.foreach { d =>
      val k = d(0).toInt
      ensureKey(k)
      if (d(1) > curTs(k)) {
        if (curQty(k) != NoQty) sumQty -= curQty(k)
        curTs(k) = d(1); curQty(k) = d(2); sumQty += d(2)
      }
    }
    modelRows += batch.length
    batch.foreach { d =>
      val k = d(0).toInt
      if (!keyVersions.contains(k)) touched += k
      keyVersions(k) = (d(1), d(2)) :: keyVersions.getOrElse(k, Nil)
    }
    lastTouched = batch.map(_(0).toInt).toSeq
    recordVersion()
    if (tracer.exists(_.isTraced(opId))) {
      val after = plain.manifests(Table).maxBy(_.version)
      val old = before.files.map(_.path).toSet
      val kept = after.files.map(_.path).toSet
      val removed = before.files.count(f => !kept.contains(f.path))
      val added = after.files.filterNot(f => old.contains(f.path)).map(_.rowCount).sum
      val s = tracer.get.spansOf(opId).filter(_.layer == "curation").map(_.dur).sum / 1000
      scd2Ops += Scd2Op(opId, kind, p, s, before.files.size, removed, added, batch.length)
    }
  }

  /** The expected table, in plain Spark: every version of every key, from
    * the bulk load and all the landed extracts, chained by timestamp. */
  private def modelDf: DataFrame = {
    val w = Window.partitionBy("pk").orderBy(TsCol)
    baseDf.unionByName(spark.read.parquet(landing.toString + "/day-*"))
      .withColumn("start_datetime", col(TsCol))
      .withColumn("end_datetime", coalesce(lead(col(TsCol), 1).over(w),
        to_timestamp(lit(Scd2.SentinelTs))))
      .withColumn("is_current", lead(col(TsCol), 1).over(w).isNull)
  }

  def check(lastWriteOp: Int): Seq[(Int, String)] = {
    val t = plain.read(Table)
    val w = Window.partitionBy("pk").orderBy("start_datetime")
    val sentinel = to_timestamp(lit(Scd2.SentinelTs))
    // SCD2 invariants: one current row per key; [start, end) chains with
    // no gap or overlap, ending open
    val bad = t.withColumn("nxt", lead(col("start_datetime"), 1).over(w))
      .withColumn("cur", sum(when(col("is_current"), 1).otherwise(0)).over(Window.partitionBy("pk")))
      .agg(
        sum(when(col("cur") =!= 1, 1).otherwise(0)),
        sum(when((col("nxt").isNull && (col("end_datetime") =!= sentinel || !col("is_current"))) ||
          (col("nxt").isNotNull && (col("end_datetime") =!= col("nxt") || col("is_current"))) ||
          col("start_datetime") =!= col(TsCol), 1).otherwise(0)))
      .head()
    val (rows, got) = Tables.digest(t, t.columns.toSeq)
    val (_, exp) = Tables.digest(modelDf, t.columns.toSeq)
    Seq(
      (bad.getLong(0) > 0) -> s"${bad.getLong(0)} rows of keys without exactly one current row",
      (bad.getLong(1) > 0) -> s"${bad.getLong(1)} rows break the [start, end) chain",
      (rows != modelRows) -> s"$rows rows, model expects $modelRows",
      (got != exp) -> "row hashes differ from the plain-Spark model",
    ).collect { case (true, why) => (lastWriteOp, why) }
  }

  def snapshotDataBytes: Long = plain.manifests(Table).maxBy(_.version).files.map(_.sizeBytes).sum

  def layerMetrics(traced: Set[Int], ops: Seq[OpTime], t: Tracer): Seq[(String, Double, String)] = {
    val merges = scd2Ops.filter(o => traced.contains(o.op))
    val filesBefore = merges.map(_.filesBefore).sum
    val deltaRows = merges.map(_.deltaRows).sum
    Seq(
      ("curation.scd2_s", if (merges.isEmpty) 0.0 else merges.map(_.seconds).sum / merges.size, "s/call"),
      ("curation.files_hit_frac",
        if (filesBefore == 0) 0.0 else merges.map(_.filesRemoved).sum.toDouble / filesBefore, "ratio"),
      ("curation.rows_rewritten_per_row_changed",
        if (deltaRows == 0) 0.0 else merges.map(_.rowsAdded).sum.toDouble / deltaRows, "ratio"),
      ("curation.final_batch_cpu_s", ops.filter(_.name == FinalBatch).map(_.cpu).sum, "cpu_s"),
    ) ++ Tables.gauges(plain, Table, tableDir)
  }
}

/** A traced SCD2 merge: its update proportion, its time inside `Scd2`, and
  * the files and rows it rewrote. */
final case class Scd2Op(op: Int, kind: String, proportion: Double, seconds: Double, filesBefore: Int,
    filesRemoved: Int, rowsAdded: Long, deltaRows: Long)

object Curation {
  val Table = "store_sales_scd2"
  val TsCol = "extraction_timestamp"
  val NewTicketBase = 900000000
  /** One round's batches as (proportion, complex). */
  val RoundDays: Seq[(Double, Boolean)] = Seq(0.001 -> false, 0.01 -> true, 0.1 -> false,
    0.001 -> true, 0.01 -> false, 0.1 -> true)
  val FinalProportion = 0.99
  val FinalBatch = s"scd2_simple@$FinalProportion"
  val WarmupDays: Seq[(Double, Boolean)] = Seq(0.01 -> false, 0.01 -> true)
  val ReadRepeats = 1
  /** Nominal wall seconds of one round on four CPUs. */
  val RoundSeconds = 10.0
  /** Complex days' mix, by share of the day's sampled keys: late-arriving
    * versions, keys with two or three versions in the day, and new keys
    * on top. Chosen, not taken from a source; the context line reports
    * the shares of rows each day measured. */
  val LateShare = 0.1
  val MultiShare = 0.2
  val NewKeyShare = 0.05
  /** Draws of an already-updated key for a late arrival before the day
    * falls back to an on-time update. */
  val LateKeyTries = 8
  val KeepLast = 4
  val AsOfBack = 2
  val CompactTargetBytes: Long = 1L << 20
  val NoQty: Long = Long.MinValue
  val Hour = 3600000L
  private val Day0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  def dayStart(d: Int): Long = Day0 + d * 86400000L

  /** Logical bytes of one delta row: 4 per int column, 8 per decimal and
    * timestamp column, one per character of the 16-character key. */
  val rowBytes: Long = 10 * 4 + 13 * 8 + 16 + 8

  /** The curation layer's metrics where no curation runs. */
  val bypassed: Seq[(String, Double, String)] = Seq(("curation.scd2_s", 0.0, "s/call"),
    ("curation.files_hit_frac", 0.0, "ratio"), ("curation.rows_rewritten_per_row_changed", 0.0, "ratio"),
    ("curation.final_batch_cpu_s", 0.0, "cpu_s"))
}
