package graft

import org.apache.spark.sql.SparkSession

/** The one way a local SparkSession is built. Every main and the test
  * session start from [[builder]] and chain their own `.config` calls. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, otherwise the cores this JVM may use. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[n]` with one shuffle partition per core, UTC session time,
    * no UI and the graft SQL extensions. */
  def builder(n: Int = cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  /** Run `body` with the given session settings, then restore each key's
    * previous value (or unset it) even if `body` throws. A lazy result
    * that runs after the restore runs under the restored settings. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
