package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.TableStore
import org.apache.spark.sql.{Row, SparkSession}

/** EXECUTES the TPC-DS query corpus through GraftCatalog against dsdgen
  * sf0.01 data (fixtures/tpcds-sf0.01, generated by tools/gen_tpcds.py)
  * and compares every result set against a DuckDB oracle computed from the
  * same parquet inputs.
  *
  * The corpus lives in the checkout: DuckDB's 99 texts, with DuckDB's own
  * parameters, in `queries/`, and their answers in `expected-duckdb/`
  * (tools/gen_tpcds_expected.py --duckdb-texts). When the reference's own
  * 98 texts are present, they run through the same loop against the
  * committed `expected/` answers. [[TpcdsPlanSpec]] proves the corpus
  * *plans*; this proves it *runs and is right* (at a small scale factor).
  *
  * Comparison is positional and order-insensitive (the corpus' ORDER BY is
  * part of the texts, but engines may break ties differently), with a
  * tolerance fallback for cells where Spark's exact-decimal aggregates and
  * DuckDB's double aggregates round differently.
  */
class TpcdsExecSpec extends SparkSpec {
  import TpcdsExecSpec._

  private val cat = "graftds_exec"

  private def asNum(v: Any): Option[BigDecimal] = v match {
    case b: java.lang.Byte => Some(BigDecimal(b.intValue))
    case s: java.lang.Short => Some(BigDecimal(s.intValue))
    case i: java.lang.Integer => Some(BigDecimal(i.intValue))
    case l: java.lang.Long => Some(BigDecimal(l.longValue))
    case f: java.lang.Float => Some(BigDecimal(f.doubleValue))
    case d: java.lang.Double => Some(BigDecimal(d.doubleValue))
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case _ => None
  }

  /** Canonical cell string: numerics rounded to 4 dp, null sentinel. */
  private def cell(v: Any): String =
    if (v == null) "␀"
    else asNum(v) match {
      case Some(bd) =>
        bd.setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .underlying.stripTrailingZeros.toPlainString
      case None => v.toString
    }

  private def cellsOf(r: Row): Seq[String] =
    (0 until r.length).map(i => cell(r.get(i)))

  /** Tolerant cell equality for the fallback pass: strings exact, numerics
    * within abs 2e-4 or rel 1e-6 (decimal-vs-double aggregate rounding). */
  private def tolerantEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case _ =>
      (asNum(a), asNum(b)) match {
        case (Some(x), Some(y)) =>
          (x - y).abs <= BigDecimal("0.0002").max(x.abs.max(y.abs) * BigDecimal("0.000001"))
        case _ => cell(a) == cell(b)
      }
  }

  /** None = match; Some(reason) = first difference found. */
  private def compare(got: Array[Row], want: Array[Row]): Option[String] = {
    if (got.length != want.length)
      return Some(s"row count ${got.length} vs oracle ${want.length}")
    if (got.isEmpty) return None
    if (got.head.length != want.head.length)
      return Some(s"column count ${got.head.length} vs oracle ${want.head.length}")
    val gs = got.map(cellsOf)
    val ws = want.map(cellsOf)
    import scala.math.Ordering.Implicits._
    if (gs.sorted.sameElements(ws.sorted)) return None
    // tolerance fallback: align by canonical sort, compare cells pairwise
    val ga = got.map(r => (cellsOf(r), r)).sortBy(_._1).map(_._2)
    val wa = want.map(r => (cellsOf(r), r)).sortBy(_._1).map(_._2)
    ga.zip(wa).zipWithIndex.collectFirst {
      case ((g, w), i) if !(0 until g.length).forall(c => tolerantEq(g.get(c), w.get(c))) =>
        val c = (0 until g.length).find(c => !tolerantEq(g.get(c), w.get(c))).get
        s"row $i col $c: got ${g.get(c)} vs oracle ${w.get(c)}"
    }
  }

  corpora.foreach { c =>
    test(s"all ${c.size} ${c.label} TPC-DS queries execute and match the DuckDB oracle") {
      val names = c.names
      assert(names.size == c.size, s"expected ${c.size} ${c.label} texts, got ${names.size}")
      val results = inCorpusSession(spark, cat, warehouse) {
        names.map { name =>
          val text = c.text(name)
          try {
            val got =
              try spark.sql(text).collect()
              catch {
                // q90's am/pm ratio divides by a count that is zero only at
                // this tiny SF (non-zero at the reference's sf100+). ANSI
                // (like Athena) errors; the DuckDB oracle yields NULL — rerun
                // just this text with ANSI off to compare the NULL semantics.
                case e: Throwable
                    if Option(e.getMessage).exists(_.contains("DIVIDE_BY_ZERO")) =>
                  graft.GraftSession.withConf(spark, "spark.sql.ansi.enabled" -> "false") {
                    spark.sql(text).collect()
                  }
              }
            val want = spark.read.parquet(c.answer(name).toString).collect()
            name -> compare(got, want)
          } catch {
            case e: Throwable =>
              name -> Some("EXEC: " + Option(e.getMessage).getOrElse(e.toString)
                .linesIterator.take(2).mkString(" ").take(300))
          }
        }
      }
      val failures = results.collect { case (n, Some(why)) => s"$n: $why" }
      assert(failures.isEmpty,
        s"${failures.size}/${c.size} mismatched:\n${failures.mkString("\n")}")
    }
  }
}

object TpcdsExecSpec {

  // Overridable so the same gates can run against larger dsdgen dirs
  // (tools/gen_tpcds.py + gen_tpcds_expected.py output).
  val dataDir: Path = Paths.get(
    sys.env.getOrElse("GRAFT_TPCDS_DIR", "fixtures/tpcds-sf0.01"))
  // the reference's own texts, from its checkout beside this one
  private val referenceSqlDir =
    Paths.get("..", "reference", "src", "data_derivation", "query_performance", "sql")

  /** A (texts, answers) pair: `qNN.sql` files and their `qNN.parquet`
    * oracle answers. */
  final case class Corpus(label: String, sqlDir: Path, answerDir: Path, size: Int) {
    def names: Seq[String] = Files.list(sqlDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("q.*\\.sql"))
      .map(_.stripSuffix(".sql")).toSeq.sorted
    def text(name: String): String =
      new String(Files.readAllBytes(sqlDir.resolve(s"$name.sql")), "UTF-8")
    def answer(name: String): Path = answerDir.resolve(s"$name.parquet")
  }

  /** One ingest of the 24 dsdgen tables into a TableStore warehouse,
    * shared by the corpus specs — fact tables partitioned on their date sk
    * (TpcdsIngest), so the corpus runs against the layout the reference
    * benchmarked. */
  lazy val warehouse: String = {
    val wh = Files.createTempDirectory("tpcds-exec").toString
    val spark = graft.SparkSpec.session
    graft.tools.TpcdsIngest.ingest(spark, new TableStore(spark, wh), dataDir)
    wh
  }

  /** The checkout corpus always — a missing one fails its test — and the
    * reference's texts with their committed answers when present. */
  val corpora: Seq[Corpus] =
    Corpus("DuckDB", dataDir.resolve("queries"), dataDir.resolve("expected-duckdb"), 99) +:
      Seq(Corpus("reference", referenceSqlDir, dataDir.resolve("expected"), 98))
        .filter(c => Files.isDirectory(c.sqlDir))

  /** Run `body` with `warehouse` mounted as catalog `cat` and current, in
    * the corpus' ANSI dialect: "double quoted" identifiers alias columns
    * in both corpora. */
  def inCorpusSession[T](spark: SparkSession, cat: String, warehouse: String)(body: => T): T =
    graft.GraftSession.withConf(spark,
      s"spark.sql.catalog.$cat" -> classOf[GraftCatalog].getName,
      s"spark.sql.catalog.$cat.warehouse" -> warehouse,
      "spark.sql.ansi.enabled" -> "true",
      "spark.sql.ansi.doubleQuotedIdentifiers" -> "true") {
      spark.sql(s"USE $cat")
      try body finally spark.sql("USE spark_catalog")
    }
}
