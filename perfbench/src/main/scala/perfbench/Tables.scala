package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.core.TableStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, sum, xxhash64}

/** Helpers both workloads use on their tables. */
object Tables {
  /** (rows, sum of 64-bit row hashes) of `df` over `cols`: equal for two
    * frames holding the same multiset of rows. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(col("h")), sum("h")).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Table-layer gauges at the end of a run; delete files are the most
    * any retained snapshot holds, since compaction clears them. */
  def gauges(store: TableStore, table: String, dir: Path): Seq[(String, Double, String)] = {
    val ms = store.manifests(table)
    val cur = ms.maxBy(_.version)
    Seq(
      ("core.versions", ms.size.toDouble, "count"),
      ("core.data_files", cur.files.size.toDouble, "count"),
      ("core.delete_files", ms.map(_.deleteFiles.size).max.toDouble, "count"),
      ("core.manifest_kb", Runner.dirBytes(dir.resolve("_manifests")) / 1024.0, "KB"))
  }

  /** Copies the files under `from` to the same relative paths under `to`. */
  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest) else Files.copy(p, dest)
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
}

/** Compares a query's rows with the oracle's, as sets of rows: engines may
  * break ORDER BY ties differently. Numbers compare rounded to four
  * decimal places, and on a mismatch cell by cell within 2e-4 absolute or
  * 1e-6 relative, since an exact decimal sum and a double sum can round
  * differently. */
object Answers {
  private def asNum(v: Any): Option[BigDecimal] = v match {
    case b: java.lang.Byte => Some(BigDecimal(b.intValue))
    case s: java.lang.Short => Some(BigDecimal(s.intValue))
    case i: java.lang.Integer => Some(BigDecimal(i.intValue))
    case l: java.lang.Long => Some(BigDecimal(l.longValue))
    case f: java.lang.Float => Some(BigDecimal(f.doubleValue))
    case d: java.lang.Double if !d.isNaN && !d.isInfinite => Some(BigDecimal(d.doubleValue))
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case _ => None
  }

  /** Canonical cell text: numbers to four decimal places, a null marker. */
  private def cell(v: Any): String =
    if (v == null) "\u0000null"
    else asNum(v) match {
      case Some(bd) => bd.setScale(4, BigDecimal.RoundingMode.HALF_UP).underlying.stripTrailingZeros.toPlainString
      case None => v.toString
    }

  private def cells(r: Row): Seq[String] = (0 until r.length).map(i => cell(r.get(i)))

  private def near(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case _ => (asNum(a), asNum(b)) match {
      case (Some(x), Some(y)) => (x - y).abs <= BigDecimal("0.0002").max(x.abs.max(y.abs) * BigDecimal("0.000001"))
      case _ => cell(a) == cell(b)
    }
  }

  /** None when `got` matches `want`, else the first difference found. */
  def compare(got: Seq[Row], want: Seq[Row]): Option[String] = {
    import scala.math.Ordering.Implicits._
    if (got.length != want.length) return Some(s"${got.length} rows, oracle has ${want.length}")
    if (got.isEmpty) return None
    if (got.head.length != want.head.length)
      return Some(s"${got.head.length} columns, oracle has ${want.head.length}")
    val g = got.map(r => (cells(r), r)).sortBy(_._1)
    val w = want.map(r => (cells(r), r)).sortBy(_._1)
    if (g.map(_._1) == w.map(_._1)) return None
    g.map(_._2).zip(w.map(_._2)).zipWithIndex.collectFirst {
      case ((a, b), i) if !(0 until a.length).forall(c => near(a.get(c), b.get(c))) =>
        val c = (0 until a.length).find(c => !near(a.get(c), b.get(c))).get
        s"row $i column $c: ${a.get(c)}, oracle ${b.get(c)}"
    }
  }
}
