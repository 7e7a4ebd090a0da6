package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (Spark startup dominates test wall time). */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession(threads = 4, shufflePartitions = Some(4))
}
