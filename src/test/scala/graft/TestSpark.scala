package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (single SparkContext/JVM),
  * built like every main's session, at the benchmark box's 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cores = 4)
}

/** Counts Janino compiles in this JVM: Spark's codegen cache records
  * one compile time per cache miss, on the driver and the executor
  * threads alike. Suites run one at a time, so a delta is the body's. */
private[graft] object Codegen {
  def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
