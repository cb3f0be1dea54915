package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * written inside the query's own scratch scope, plus oracle_sql.json,
  * for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q65,q66 dumps just those
    // prefixes. Unset (the driver) → the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.keys.filter { name =>
      only.forall(_.exists(name.startsWith))
    }
    selected.foreach { name =>
      try SparkEntry.run(spark, name, sfDir) { df =>
        // Guard: never OUTPUT a decimal column. The driver's hasher
        // canonicalizes DuckDB decimals via float64 but Spark decimals
        // exactly, so a decimal-typed output column hash-mismatches on
        // trailing-zero representation (round-1 lesson: 11 queries lost).
        // Exact-decimal math stays internal; outputs are cast to DOUBLE.
        val decs = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] => f.name
        }
        require(decs.isEmpty,
          s"$name emits decimal output column(s) ${decs.mkString(",")} — cast to DOUBLE")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally
        // Dedup queries persist intermediate postings that only help
        // WITHIN one query's DAG; dropped here so cached blocks never
        // accumulate across the 60+ queries of a verify run.
        spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Every query ran in its own scratch scope, so nothing should be left.
    val leftKeys = spark.conf.getAll.keys.count(_.startsWith("spark.sql.catalog.g"))
    val leftDirs = Option(Scratch.root.toFile.list).map(_.length).getOrElse(0)
    System.err.println(s"[verify] scratch left: $leftKeys catalog keys, $leftDirs dirs")
    spark.stop()
  }
}
