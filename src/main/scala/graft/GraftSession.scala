package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's SparkSession is configured. Every main
  * (Bench, Verify, the tools) and the test session build through
  * [[apply]], so the plans the specs lock, the results Verify dumps
  * and the timings Bench measures all come from the same settings. */
object GraftSession {
  /** Local task threads: `SPARK_GRAFT_CPUS`, default 4. Lazy, so a bad
    * value fails at first use with [[positiveInt]]'s message rather than
    * as an ExceptionInInitializerError. */
  lazy val cores: Int = positiveInt("SPARK_GRAFT_CPUS", 4)

  /** The rule for numeric env knobs: unset gives `default`; anything but
    * an integer >= 1 fails with a message naming the knob. */
  def positiveInt(name: String, default: Int,
                  env: Map[String, String] = sys.env): Int =
    env.get(name).fold(default) { v =>
      v.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$name must be an integer >= 1, got '$v'"))
    }

  /** AQE's coalescing floor (OPTIMIZATION_r18.md Finding 3). The default
    * 1 MB minPartitionSize assumes bytes ≈ work; the text/vector
    * operators here do 100x more CPU per byte (tokenize, array
    * intersect, window sort), so a few-MB shuffle coalesced to 1-8
    * partitions serializes a CPU-heavy stage on an idle box. With
    * parallelismFirst (default on) the target is already
    * total/defaultParallelism — this floor keeps that core-derived
    * target in charge instead of overriding it at small shuffle sizes
    * (256 KB measured best: 64 KB over-split d12's distinct
    * aggregations, 1 MB serialized d19/q67). At production shuffle
    * sizes the floor never binds (total/cores >> 256 KB), so the
    * setting is inert at 100 TB. */
  val MinPartitionSize: Long = 262144L

  /** The SQL settings every session carries, for `cores` task threads. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      MinPartitionSize.toString)

  /** Builds (or returns the live) session: `local[cores]` unless a
    * deployment `master` is given, a fresh temp warehouse unless the
    * caller passes one (a repo-local ./spark-warehouse leftover makes a
    * later run's fresh catalog refuse to recreate its managed tables),
    * UI off, log level WARN. `conf` adds caller-specific settings. */
  def apply(cores: Int = GraftSession.cores, master: Option[String] = None,
            warehouse: Option[String] = None,
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val wh = warehouse.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    val builder = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
    (settings(cores) ++ conf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
