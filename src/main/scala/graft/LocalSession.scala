package graft

import org.apache.spark.sql.SparkSession

/** The in-process session the mains and the test suite run on:
  * `local[cores]` with as many shuffle partitions, UTC session time, no
  * UI and WARN logging; `conf` adds caller-specific settings. */
object LocalSession {
  def apply(cores: String, conf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
