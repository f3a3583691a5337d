package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe of every graft entrypoint (Bench, Verify,
  * Profile, GenData) and of the test suites: `local[n]` with `n`
  * shuffle partitions, UTC session time zone, no UI, log level WARN
  * (ERROR for WindowExec's unpartitioned-window warning),
  * and `spark.sql.legacy.parquet.nanosAsLong` because events.parquet
  * carries TIMESTAMP(NANOS), which Spark otherwise refuses to read.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the host's core count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) =>
      val n = v.trim.toIntOption.getOrElse(0)
      require(n >= 1, s"SPARK_GRAFT_CPUS must be a positive integer: '$v'")
      n
    case None => Runtime.getRuntime.availableProcessors
  }

  def apply(n: Int = cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec warns on every unpartitioned window it plans, and
    // TopK.ranked plans one per ranked call; PlanSpec's window lint
    // proves each such frame bounded (a literal-limit child or a
    // named fold), so the per-call warning carries nothing
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
