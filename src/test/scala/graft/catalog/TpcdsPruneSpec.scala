package graft.catalog

import graft.SparkSpec
import graft.core.TableStore

/** Proves runtime file pruning fires on the TPC-DS workload in the
  * reference's layout: over [[TpcdsExecSpec]]'s warehouse, whose fact
  * tables are partitioned on their date sk (graft.tools.TpcdsIngest — the
  * layout the sf3000 benchmark ran), the corpus q42/q52/q55 texts
  * (date_dim star joins with d_moy/d_year filters) must scan strictly
  * fewer store_sales files than the snapshot holds: the dimension filter
  * reaches the fact scan as a runtime IN-list and drops date partitions no
  * surviving d_date_sk can touch. */
class TpcdsPruneSpec extends SparkSpec {
  import TpcdsExecSpec._

  private def graftScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.graft.GraftStatsScan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val self = p match {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case g: org.apache.spark.sql.graft.GraftStatsScan => Seq(g)
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    self ++ kids.flatMap(graftScans)
  }

  test("corpus q42/q52/q55 runtime-prune the partitioned store_sales scan") {
    val total = new TableStore(spark, warehouse).manifests("store_sales")
      .maxBy(_.version).files.size
    assert(total > 100, s"fixture should split into many date partitions, got $total")

    val corpus = corpora.head
    inCorpusSession(spark, "graftprune", warehouse) {
      Seq("q42", "q52", "q55").foreach { name =>
        val df = spark.sql(corpus.text(name))
        df.collect()
        val kept = graftScans(df.queryExecution.executedPlan)
          .filter(_.table == "store_sales")
          .map(_.currentFileCount).minOption.getOrElse(-1)
        assert(kept >= 0, s"$name: no GraftStatsScan over store_sales found")
        assert(kept < total,
          s"$name: expected runtime pruning, scanned $kept/$total files")
        // d_moy = 11 keeps at most ~1/12 of the days (+1 skew headroom)
        assert(kept <= total / 6,
          s"$name: pruning too weak, scanned $kept/$total files")
      }
    }
  }
}
