package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark body over a fixture dir and the DuckDB
  * SQL that must give the same answer over the same parquet tables.
  * A body that needs scratch space takes it from [[graft.Scratch.active]];
  * the caller consumes the DataFrame before that scope closes. */
final case class Query(name: String, family: Family,
    run: (SparkSession, String) => DataFrame, oracleSql: String)

/** What part of the surface a query exercises. */
sealed trait Family

object Family {
  case object Relational extends Family
  case object TableFormat extends Family
  case object Curation extends Family
  case object Streaming extends Family
  case object DedupText extends Family
  case object Retrieval extends Family
  case object Graph extends Family
  case object Multimodal extends Family
}
