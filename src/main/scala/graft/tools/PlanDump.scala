package graft.tools

import scala.util.control.NonFatal

/** Dev aid for the bench work-metrics axis: writes the NORMALIZED
  * AQE-final plan text of named queries to files, so a fingerprint
  * that differs across two JVM runs can be diffed down to the
  * offending token. Not on any gate.
  *
  * Run: `runMain graft.tools.PlanDump OUT_DIR SF_DIR q1 [q2 ...]` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (outDir, sfDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val spark = graft.GraftSession()
    graft.Bench.prepareOrExit(spark, sfDir, "plandump")
    val holder = new graft.Bench.ExecutionCapture(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      // per-name failure tolerance: a crashing query (or one whose
      // name resolves but leaves the holder stale/null) must not
      // abort the rest of a forensics dump list
      try {
        holder.clear()
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        org.apache.spark.GraftBus.drain(spark.sparkContext)
        Option(holder.get()) match {
          case Some(qe) =>
            val norm = graft.Bench.normalizePlan(qe.executedPlan.toString)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"$n.plan"),
              norm.getBytes("UTF-8"))
            // the POST-EXECUTION formatted plan (AQE-final: executed
            // once, so join strategies / coalesced reads are the
            // runtime ones) — the optimization-round evidence format
            // (plans/r*/<query>_{before,after}.txt)
            val fmt = qe.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"$n.fmt"),
              fmt.getBytes("UTF-8"))
            println(s"[plandump] $n -> $outDir/$n.plan + .fmt")
          case None =>
            println(s"[plandump] $n: no completed execution captured, skipped")
        }
      } catch {
        case NonFatal(e) => println(s"[plandump] $n FAILED: $e")
      } finally spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
