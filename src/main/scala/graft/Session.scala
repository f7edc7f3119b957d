package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured: `local[cores]` with as
  * many shuffle partitions as cores, `GraftExtensions`, UTC, no UI, WARN
  * logs. Bench, Verify, the dev tools and the specs all build here, so
  * their sessions differ at most in the core count. */
object Session {

  /** Cores default to `SPARK_GRAFT_CPUS`, else 4. */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
