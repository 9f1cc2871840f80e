package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session of the test JVM: `local[4]` with 4 shuffle
  * partitions. Every spec runs in one forked JVM, where a second
  * `Sessions.build` would get the first session's master back and re-set
  * the runtime shuffle count under the specs that run after it, so every
  * spec uses this one. A spec that needs another shuffle count sets it
  * and restores it itself. */
object TestSession {
  lazy val spark: SparkSession = Sessions.build("local[4]", 4)
}
