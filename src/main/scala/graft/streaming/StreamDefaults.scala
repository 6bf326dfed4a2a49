package graft.streaming

import org.apache.spark.sql.SparkSession

/** The session defaults every graft stream start installs, each set only
  * when the caller's session has no value of its own:
  *
  *  - checkpoints go through [[LocalCheckpointFiles]] (no process fork
  *    per checkpoint file on `file:` paths);
  *  - artifact isolation is off (`spark.sql.artifact.isolation.enabled`
  *    = false). Spark caches compiled generated code per (context
  *    classloader, source), and with isolation on each session gets its
  *    own executor classloader. A stream runs in a clone of the session,
  *    so every stream start recompiled every class its tasks build.
  *    graft adds no session artifacts (`addArtifact`), so isolating
  *    them separates nothing.
  *
  * Call before `start()`; calling it again changes nothing.
  */
object StreamDefaults {
  private[graft] val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private[graft] val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  def install(spark: SparkSession): Unit = {
    // getAll, not getOption: getOption answers Spark's default for a
    // key the session never set
    val set = spark.conf.getAll
    def default(key: String, value: String): Unit =
      if (!set.contains(key)) spark.conf.set(key, value)
    default(CheckpointManagerKey, classOf[LocalCheckpointFiles].getName)
    default(ArtifactIsolationKey, "false")
  }
}
