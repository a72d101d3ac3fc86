package graft

import org.apache.spark.sql.SparkSession

/** One place for the session-level configuration every graft entry point
  * needs. `spark.sql.legacy.parquet.nanosAsLong` is kept on for OLDER
  * fixture generations whose events.ts shipped as parquet TIMESTAMP(NANOS)
  * (the vectorized reader otherwise rejects that type; with the flag it
  * reads as raw-nanos LongType, which `Tables.apply` floor-divides to
  * micros). Current fixtures ship plain TIMESTAMP_MICROS, which the flag
  * does not affect. It lives here, once per session, instead of as a
  * per-read side effect in `Tables.apply`, which would be racy under
  * concurrent queries.
  */
object GraftSession {
  /** `cpus` sizes both the local master and `spark.sql.shuffle.partitions`
    * (one reducer per core — the right size for this single-JVM rig; a
    * real cluster would set partitions to a multiple of total cores).
    * Default: [[defaultCpus]].
    */
  def local(appName: String, cpus: String = defaultCpus, logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** The session core count: `SPARK_GRAFT_CPUS` if set, else every core
    * the JVM sees.
    */
  def defaultCpus: String = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cpusFrom(env: Option[String]): String =
    env.getOrElse(Runtime.getRuntime.availableProcessors.toString)
}
