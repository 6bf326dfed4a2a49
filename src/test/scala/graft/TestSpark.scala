package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (single SparkContext/JVM),
  * built like every main's session, at the benchmark box's 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cores = 4)
}
