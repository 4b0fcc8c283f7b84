package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its Spark session, so Bench,
  * Verify, the CLI and the tools all plan under the same config. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, no UI, and graft's optimizer rules switched on.
    * The rules are enabled here, once, never inside a query: a query
    * that changed the session's optimizer would make later queries'
    * plans depend on which queries ran before them. */
  def local(cpus: Int = defaultCpus, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    org.apache.spark.sql.graft.TopKWindowRewrite.enable(spark)
    spark
  }
}
