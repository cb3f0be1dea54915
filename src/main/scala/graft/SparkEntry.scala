package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: the query registry. Each [[Query]] record keeps its
  * Spark body next to its DuckDB oracle SQL, grouped by family under
  * `graft.queries`; `queries`, `oracleSql` and `entry` are derived from
  * the records. The numeric discipline that keeps answers hash-equal
  * across the two engines is in [[graft.queries.Support]]. */
object SparkEntry {

  /** Every registered query, family by family. */
  val registry: Seq[Query] = Seq(RelationalQueries.all, TableFormatQueries.all,
    TableSqlQueries.all, CurationQueries.all, StreamingQueries.all,
    DedupTextQueries.all, RetrievalQueries.all, GraphQueries.all,
    MultimodalQueries.all).flatten

  /** name → body. A call outside any [[Scratch.scope]] takes its scratch
    * space from the process scope. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      q.name -> ((s: SparkSession, dir: String) => Scratch.perCall(q.run(s, dir)))
    }.toMap

  /** name → DuckDB SQL over the same parquet tables. */
  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  /** Run query `name` over `dir` in a fresh [[Scratch.scope]] and hand its
    * DataFrame to `consume` before the scope closes. */
  def run[T](spark: SparkSession, name: String, dir: String)(
      consume: DataFrame => T): T =
    Scratch.scope(consume(queries(name)(spark, dir)))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_revenue_by_nation")(spark, "/root/testdata/sf0.001")
}
