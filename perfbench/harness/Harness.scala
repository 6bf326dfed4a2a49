package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The JVM side of the benchmark. It drives the program's public entry
  * points (`SparkEntry.queries`, `Tables.apply`, `MinuteStream.start`
  * over a `graftlog` source), times each call from outside, keeps spans
  * and listener records in memory and writes one JSON record at exit.
  * `run.py` generates the inputs, launches this and turns the record
  * into metrics.
  *
  * Arguments (all `--key value`): workload, data, work, out, cores,
  * passes (measured passes), trace, queries (comma list, in run order),
  * log, warmup-log and max-lines (trade_stream). Workload `record` runs
  * every query once and digests its output, to record the expected
  * outputs.
  */
object Harness {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as the listener timestamps. */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  final case class Span(id: Int, parent: Int, name: String, op: Int,
                        start: Double, end: Double) {
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
      "name" -> name, "op" -> op, "start_ms" -> start, "end_ms" -> end)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    val passes = opt("passes").toInt
    val work = opt("work")

    val tSession = now()
    // Mirrors graft.Bench.main's session; only the scratch locations
    // differ, so that a run writes inside its own work directory.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "262144")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "trace" -> trace, "cores" -> cores,
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "session_s" -> (now() - tSession) / 1e3)
    val bench = new Bench(spark, trace, record)
    try workload match {
      case "trade_stream" =>
        bench.stream(opt("warmup-log"), opt("log"), opt("max-lines").toLong,
          passes, work)
      case "record" =>
        bench.recordExpected(opt("data"), graft.SparkEntry.queries.keys.toSeq.sorted)
      case _ =>
        bench.queries(opt("data"), opt("queries").split(",").toSeq, passes)
    } catch {
      case NonFatal(e) =>
        record("fatal") = e.toString
        e.printStackTrace()
    }
    record("cpu_probe_post_s") = cpuProbe(spark, cores)
    record("spans") = bench.spans.map(_.toMap)
    record("peak_rss_kb") = peakRssKb()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(opt("out")), record)
    spark.stop()
  }

  /** The fixed pure-CPU probe of `graft.Bench`: an in-memory hash
    * aggregate to the noop sink, run after the warm-up and after the
    * measurement. It shows a co-loaded host; it measures nothing of the
    * program. */
  def cpuProbe(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, cores)
      .selectExpr("id % 997 AS k", "id")
      .groupBy("k").sum("id")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The process's peak resident set, from /proc (Linux). */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  /** Children with AQE and query-stage wrappers resolved. */
  private def planKids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  /** The top-most numOutputRows metric of the final plan: the rows the
    * sink received. -1 when no operator carries the metric. */
  def sinkRows(p: SparkPlan): Long = {
    val queue = mutable.Queue(p)
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      n.metrics.get("numOutputRows") match {
        case Some(m) => return m.value
        case None => queue ++= planKids(n)
      }
    }
    -1L
  }

  /** Order-insensitive content digest: row count and the exact sum of
    * a 64-bit hash of each row's string form. */
  def digest(df: DataFrame): String = {
    val row = struct(df.columns.map(c => col("`" + c.replace("`", "``") + "`")).toIndexedSeq: _*)
    val r = df.select(xxhash64(row.cast("string")).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")).cast("string")).head()
    s"${r.getLong(0)}:${Option(r.getString(1)).getOrElse("0")}"
  }
}

/** One run's operations, spans and listener records. */
final class Bench(spark: SparkSession, trace: Boolean,
                  record: mutable.Map[String, Any]) {
  import Harness.{now, Span}
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val lastExecution = new LastExecution
  spark.listenerManager.register(lastExecution)
  private val tracer = new TraceListener
  private var opId = 0

  private def span(name: String, parent: Int, op: Int, start: Double,
                   end: Double): Int = {
    val id = spans.size
    spans += Span(id, parent, name, op, start, end)
    id
  }

  /** Runs `body` with the trace listener attached when `traced`. */
  private def tracing[A](traced: Boolean)(body: => A): A = {
    if (!traced) return body
    BusDrain(sc)
    sc.addSparkListener(tracer)
    try body finally { BusDrain(sc); sc.removeSparkListener(tracer) }
  }

  // ---------------------------------------------------------- queries

  def queries(dir: String, names: Seq[String], passes: Int): Unit = {
    val fns = graft.SparkEntry.queries
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // Warm-up: two untimed passes. The first pays codegen and table
    // listing and builds the artifacts the queries create on first use;
    // the second lets JIT compilation settle.
    val tWarm = now()
    for (_ <- 1 to 2) names.foreach(n => runQuery(n, fns(n), dir, pass = 0, traced = false))
    record("warmup_s") = (now() - tWarm) / 1e3
    record("cpu_probe_pre_s") = Harness.cpuProbe(spark, sc.defaultParallelism)
    record("setup_end_ms") = now()

    // Measured passes over the same order. A traced run alternates
    // untraced and traced passes; the difference between them is the
    // tracing overhead.
    val t0 = now()
    for (pass <- 1 to passes) {
      val traced = trace && pass % 2 == 0
      tracing(traced) {
        names.foreach(n => runQuery(n, fns(n), dir, pass, traced))
      }
    }
    record("measure_s") = (now() - t0) / 1e3

    if (trace) {
      record("resolve_ms") = resolveTimes(dir)
      record("digests") = digests(dir, names)
      record("jobs") = tracer.jobs.map(_.toMap)
      record("stages") = tracer.stages.values.map(_.toMap)
    }
    record("ops") = ops
  }

  /** One pass without warm-up, then every output's digest. */
  def recordExpected(dir: String, names: Seq[String]): Unit = {
    val fns = graft.SparkEntry.queries
    names.foreach(n => runQuery(n, fns(n), dir, pass = 1, traced = false))
    record("digests") = digests(dir, names)
    record("ops") = ops
  }

  private def digests(dir: String, names: Seq[String]): Map[String, String] = {
    val fns = graft.SparkEntry.queries
    names.map { n =>
      val d = try Harness.digest(fns(n)(spark, dir))
              catch { case NonFatal(e) => s"error: $e" }
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      n -> d
    }.toMap
  }

  /** One query: build the DataFrame, write it to the noop sink. The
    * sink rows and Catalyst phases are read after the timed region. */
  private def runQuery(name: String,
                       fn: (SparkSession, String) => DataFrame,
                       dir: String, pass: Int, traced: Boolean): Unit = {
    opId += 1
    val op = opId
    BusDrain(sc)
    lastExecution.clear()
    tracer.currentOp = op
    sc.setJobGroup(s"op$op", s"$name pass $pass", interruptOnCancel = false)
    val t0 = now()
    var tBuilt = t0
    var error: String = null
    var analysisMs = 0.0
    try {
      val df = fn(spark, dir)
      tBuilt = now()
      // the DataFrame was analyzed while it was built; the write re-uses
      // that plan, so its own tracker shows no analysis
      analysisMs = df.queryExecution.tracker.phases.get("analysis")
        .map(_.durationMs.toDouble).getOrElse(0.0)
      df.write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(e) => error = e.toString }
    val t1 = now()
    if (error != null && tBuilt == t0) tBuilt = t1
    sc.clearJobGroup()
    // the program's localCheckpoint blocks die with the query, as in
    // graft.Bench: the next query must not pay this one's memory
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    BusDrain(sc)

    val qe = if (error == null) lastExecution.get else None
    val rows = qe.map(q => Harness.sinkRows(q.executedPlan)).getOrElse(-1L)
    val phases = qe.map(_.tracker.phases.map { case (k, v) =>
      k -> v.durationMs.toDouble }).getOrElse(Map.empty) + ("analysis" -> analysisMs)
    val root = span("query", -1, op, t0, t1)
    span("queries.build", root, op, t0, tBuilt)
    span("action", root, op, tBuilt, t1)
    ops += Map("op" -> op, "kind" -> "query", "name" -> name, "pass" -> pass,
      "traced" -> traced, "start_ms" -> t0, "built_ms" -> tBuilt,
      "end_ms" -> t1, "rows" -> rows, "error" -> error,
      "phases_ms" -> phases, "aqe_updates" -> tracer.aqeUpdates(op))
  }

  /** A warm `Tables(spark, dir, t)` call per table, timed directly. */
  private def resolveTimes(dir: String): Map[String, Double] =
    graft.sources.Tables.all.map { t =>
      val t0 = now()
      graft.sources.Tables(spark, dir, t)
      t -> (now() - t0)
    }.toMap

  // ----------------------------------------------------------- stream

  /** Drains the trade log with MinuteStream, closed loop, one round per
    * fresh checkpoint and sink. Round 0 drains the short warm-up log. */
  def stream(warmupLog: String, logDir: String, maxLines: Long, passes: Int,
             work: String): Unit = {
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    def round(r: Int, log: String, traced: Boolean): Unit = tracing(traced) {
      opId += 1
      val op = opId
      tracer.currentOp = op
      val dir = s"$work/stream/round$r"
      val envelopes = spark.readStream.format("graftlog")
        .option("path", log)
        .option("maxLinesPerTrigger", maxLines)
        .load()
      val t0 = now()
      var error: String = null
      var runId: java.util.UUID = null
      try {
        val q = graft.streaming.MinuteStream.start(envelopes,
          s"$dir/checkpoint", s"$dir/out", trigger = Trigger.AvailableNow())
        runId = q.runId
        q.awaitTermination()
      } catch { case NonFatal(e) => error = e.toString }
      val t1 = now()
      BusDrain(sc)
      val root = span("round", -1, op, t0, t1)
      val batches = if (runId == null) Nil else progress.forRun(runId).map { p =>
        // progress gives each phase's duration; the phases run one after
        // another in this order within the trigger
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = p.durationMs.get("triggerExecution").toDouble
        val b = span("batch", root, op, start, start + dur)
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
            "addBatch", "commitOffsets").foreach { k =>
          Option(p.durationMs.get(k)).foreach { v =>
            span(s"streaming.$k", b, op, at, at + v.toDouble)
            at += v.toDouble
          }
        }
        Map[String, Any](
          "batch_id" -> p.batchId, "start_ms" -> start,
          "duration_ms" -> p.durationMs.keySet.toArray.map(k =>
            k.toString -> p.durationMs.get(k).toLong).toMap,
          "rows_in" -> p.numInputRows,
          "watermark" -> Option(p.eventTime.get("watermark")).getOrElse(""),
          "state" -> p.stateOperators.toSeq.map(s => Map(
            "operator" -> s.operatorName, "rows_total" -> s.numRowsTotal,
            "mem_bytes" -> s.memoryUsedBytes,
            "dropped_by_watermark" -> s.numRowsDroppedByWatermark)))
      }
      // outputs, read back after the timed region
      val bars = if (error != null || !new java.io.File(s"$dir/out/bars").exists) Nil else
        spark.read.parquet(s"$dir/out/bars")
          .select(col("symbol"), unix_millis(col("timestamp")), col("open"),
            col("high"), col("low"), col("close"), col("volume"))
          .collect().toSeq.map(r => Seq(r.getString(0), r.getLong(1),
            r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6)))
      val files = sinkFiles(new java.io.File(s"$dir/out"))
      rounds += Map("op" -> op, "pass" -> r, "traced" -> traced,
        "start_ms" -> t0, "end_ms" -> t1, "error" -> error,
        "batches" -> batches, "bars" -> bars,
        "sink_files" -> files.size, "sink_bytes" -> files.map(_.length).sum)
    }

    round(0, warmupLog, traced = false)
    record("warmup_s") = rounds.head("end_ms").asInstanceOf[Double] / 1e3 -
      rounds.head("start_ms").asInstanceOf[Double] / 1e3
    record("cpu_probe_pre_s") = Harness.cpuProbe(spark, sc.defaultParallelism)
    record("setup_end_ms") = now()
    val t0 = now()
    for (r <- 1 to passes) round(r, logDir, traced = trace && r % 2 == 0)
    record("measure_s") = (now() - t0) / 1e3
    record("rounds") = rounds
    if (trace) {
      record("jobs") = tracer.jobs.map(_.toMap)
      record("stages") = tracer.stages.values.map(_.toMap)
    }
  }

  private def sinkFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sinkFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }
}
