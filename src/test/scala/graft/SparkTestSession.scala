package graft

import org.apache.spark.sql.SparkSession

/** The suite's one shared session: `local[4]` with 4 shuffle partitions
  * (RuntimeShuffleSpec's pins are measured in exactly that shape). */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession(4)
}
