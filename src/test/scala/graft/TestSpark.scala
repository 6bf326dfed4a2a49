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

/** The programs the JVM starts while a body runs, read from an
  * in-process JFR recording of `jdk.ProcessStart` events: each command's
  * first word without its directory. Filter by name: the JVM's Cleaner
  * thread starts `rm -rf` on its own schedule. */
private[graft] object Forks {
  def programs(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(file)
      val events = jdk.jfr.consumer.RecordingFile.readAllEvents(file)
      (0 until events.size).map { i =>
        java.nio.file.Paths.get(events.get(i).getString("command").trim.split("\\s+").head)
          .getFileName.toString
      }
    } finally { rec.close(); java.nio.file.Files.deleteIfExists(file); () }
  }
}
