package graft.tools

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.core.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Shared TPC-DS corpus ingest: loads every dsdgen parquet table into a
  * TableStore, partitioning the 7 fact tables on their date surrogate key
  * as the reference's benchmark metadata declares (SURVEY §1.3 — the spec
  * the sf3000 Athena/Hive runs used).
  *
  * Fact rows are clustered on the partition column before the write
  * (`repartition(dateSk)`) so each date partition lands as ONE file
  * instead of one per upstream task — at sf3000 that is the difference
  * between ~1 file and ~#tasks files per day, and it is what makes the
  * per-file min=max partition stats maximally selective for runtime
  * pruning. */
object TpcdsIngest {

  private val factPartitions = Map(
    "store_sales" -> "ss_sold_date_sk",
    "store_returns" -> "sr_returned_date_sk",
    "catalog_sales" -> "cs_sold_date_sk",
    "catalog_returns" -> "cr_returned_date_sk",
    "web_sales" -> "ws_sold_date_sk",
    "web_returns" -> "wr_returned_date_sk",
    "inventory" -> "inv_date_sk")

  /** table → its partition columns (empty for the dimension tables). */
  def partitionsOf(table: String): Seq[String] = factPartitions.get(table).toSeq

  /** Ingest every `*.parquet` table under `dataDir`; the 7 fact tables go
    * through `commitPartitioned` on their date sk. */
  def ingest(spark: SparkSession, store: TableStore, dataDir: Path): Unit =
    Files.list(dataDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      .foreach { p =>
        val name = p.getFileName.toString.stripSuffix(".parquet")
        val df = spark.read.parquet(p.toString)
        val pcols = partitionsOf(name)
        // Explicit partition count: a plain repartition(cols) lets AQE
        // coalesce the tiny shuffle to ONE task, which then writes every
        // partition directory sequentially (measured 21 s vs 6 s for
        // catalog_sales at sf0.01).
        val par = spark.sparkContext.defaultParallelism
        if (pcols.isEmpty) store.commit(name, df, "ctas")
        else store.commitPartitioned(name,
          df.repartition(par, pcols.map(col): _*), pcols, "ctas")
      }
}
