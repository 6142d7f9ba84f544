package graft

import org.apache.spark.sql.SparkSession

/** The local session every main and the test suite start from: master
  * `local[cores]`, shuffle partitions = `cores` (partition counts follow
  * the cores a run was given), UTC session time zone (the oracle's
  * timestamps are UTC), UI off. */
object LocalSession {
  def apply(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
