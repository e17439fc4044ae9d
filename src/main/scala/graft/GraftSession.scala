package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every entry point and the spec suite share:
  * `local[cores]`, one shuffle partition per core, UTC, UI off, WARN logs.
  * The library's functions, rules and strategies arrive with the session
  * itself — [[GraftExtensions]] is a `ServiceLoader`-listed extensions
  * provider — so there is nothing to attach afterwards.
  */
object GraftSession {

  def build(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
