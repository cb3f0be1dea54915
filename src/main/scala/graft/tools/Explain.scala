package graft.tools

/** Dev tool: dump formatted physical plans for selected queries so the
  * shuffle/broadcast/pushdown structure can be reviewed (SURVEY.md §4).
  * Usage: runMain graft.tools.Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try graft.SparkEntry.run(spark, n, sfDir)(_.explain("formatted"))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
