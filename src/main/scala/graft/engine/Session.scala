package graft.engine

import org.apache.spark.sql.SparkSession

/** The one place a program session is built: every main and the test
  * suite get a local session with the same shape, and the engine's SQL
  * functions and optimizer rule come only from [[GraftExtensions]].
  *
  * Worker threads are `SPARK_GRAFT_CPUS` when set, else every core the
  * JVM sees; shuffle partitions follow the thread count. Session time
  * is UTC so timestamp results do not depend on the host's zone.
  */
object Session {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `getOrCreate` — a second call in one JVM returns the first
    * session, extensions included. */
  def apply(logLevel: String = "WARN"): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
