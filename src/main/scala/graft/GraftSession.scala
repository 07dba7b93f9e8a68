package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession — Verify, Bench, Main,
  * Inspect, the tools and the test suites all come through here, so
  * the plan Inspect prints is the plan Bench times and Verify hashes.
  *
  * Master: `SPARK_GRAFT_MASTER` where set (the deployment setting),
  * else `local[cores]`. Shuffle partitions = cores. Every session is
  * UTC with INT64-nanos parquet timestamps read as longs (the events
  * encoding [[graft.sources.Catalog]] normalizes), no UI, and its
  * warehouse dir under `java.io.tmpdir`. Any other `spark.*` key is
  * set with a `-Dspark.…` JVM system property, which SparkConf loads
  * when the session is built; keys set here take precedence over it.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cores: Int = envCores, app: String = "graft",
      logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_spark_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Stop the active session and build a new one: a session free of
    * the previous work's shuffle files, cached blocks and listener
    * backlog (Bench's hermetic passes and probe tail).
    */
  def fresh(): SparkSession = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    build()
  }
}
