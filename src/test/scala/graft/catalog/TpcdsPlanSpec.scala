package graft.catalog

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.TableStore

/** Plan smoke over the TPC-DS workload: the 24 table schemas (read from
  * the fixture parquet footers, with [[graft.tools.TpcdsIngest]]'s
  * identity partition specs) are created as empty GraftCatalog tables, and
  * every corpus text must parse, resolve and optimize against them — this
  * catches parser/analyzer/resolution gaps without paying for execution
  * ([[TpcdsExecSpec]] runs the texts). */
class TpcdsPlanSpec extends SparkSpec {
  import TpcdsExecSpec._

  private lazy val warehouse: String = {
    val wh = tmpDir("tpcds")
    val store = new TableStore(spark, wh)
    val tables = Files.list(dataDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(tables.size == 24, s"expected 24 table schemas, got ${tables.size}")
    tables.foreach { f =>
      val name = f.stripSuffix(".parquet")
      val schema = spark.read.parquet(dataDir.resolve(f).toString).schema
      store.createEmpty(name, schema.json, graft.tools.TpcdsIngest.partitionsOf(name))
    }
    wh
  }

  corpora.foreach { c =>
    test(s"all ${c.size} ${c.label} TPC-DS queries plan against GraftCatalog schemas") {
      val names = c.names
      assert(names.size == c.size, s"expected ${c.size} ${c.label} texts, got ${names.size}")
      val failures = inCorpusSession(spark, "graftds", warehouse) {
        names.flatMap { name =>
          try {
            // analyze + optimize only: the tables are empty
            spark.sql(c.text(name)).queryExecution.optimizedPlan
            None
          } catch {
            case e: Throwable =>
              Some(s"$name: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(2).mkString(" ").take(300)}")
          }
        }
      }
      assert(failures.isEmpty,
        s"${failures.size}/${c.size} failed to plan:\n${failures.mkString("\n")}")
    }
  }
}
