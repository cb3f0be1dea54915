package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The registry holds one record per query, and a driver-loop run
  * ([[SparkEntry.run]]) leaves no catalog key and no scratch dir behind. */
class QueryRegistrySpec extends SparkSpec {

  test("190 unique names, each with a family and oracle SQL") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 190)
    assert(names.distinct.size == 190)
    SparkEntry.registry.foreach { q =>
      assert(q.family != null, q.name)
      assert(q.oracleSql.trim.nonEmpty, q.name)
    }
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("the event-time slicer covers every row and rejects a NULL time") {
    val ts = spark.sql("SELECT TIMESTAMP '2024-01-01' + make_interval(0, 0, 0, 0, id) AS ts " +
      "FROM range(10)")
    assert(graft.queries.Support.timeSlices(ts, "ts", 3).map(_.count()).sum == 10L)
    val withNull = ts.unionByName(spark.sql("SELECT CAST(NULL AS TIMESTAMP) AS ts"))
    val e = intercept[IllegalArgumentException](
      graft.queries.Support.timeSlices(withNull, "ts", 3))
    assert(e.getMessage.contains("NULL ts"))
  }

  test("scoped runs repeat their answer and leave no catalog or scratch") {
    val s = spark.newSession()
    SparkSession.setActiveSession(s)
    try {
      Seq("q44_", "q72_", "q95_", "q133_").foreach { prefix =>
        val name = SparkEntry.queries.keys.find(_.startsWith(prefix)).get
        val runs = (1 to 2).map { _ =>
          SparkEntry.run(s, name, "/root/testdata/sf0.001")(
            _.collect().map(_.toString).toSeq)
        }
        assert(runs.head.nonEmpty, name)
        assert(runs.head == runs.last, name)
      }
    } finally SparkSession.setActiveSession(spark)
    val keys = s.conf.getAll.keys.filter(_.startsWith("spark.sql.catalog.g"))
    assert(keys.isEmpty, keys.mkString(", "))
    val left =
      if (!Files.isDirectory(Scratch.root)) Nil
      else {
        val ls = Files.list(Scratch.root)
        try ls.toArray.toSeq finally ls.close()
      }
    assert(left.isEmpty, left.mkString(", "))
  }
}
