package graft.tools

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Concurrent-query posture probe — the multiplexed-deployment shape
  * Bench's sequential loop doesn't cover: N parallel query STREAMS
  * against ONE SparkSession with the FAIR scheduler, each stream its
  * own pool, each running the same 20-query mix rotated by a
  * stream-specific offset (no lockstep). Runs a CONTENTION CURVE —
  * one point per stream width (default 2/4/8) against ONE shared
  * sequential baseline — and reports, as one JSON line:
  *
  *   - `seq_total_sec`: one mix run sequentially (the baseline),
  *   - per width in `widths`: `wall_sec` (N streams × the mix
  *     concurrently), `efficiency`, per-stream p50/p95 + worst query,
  *   - `efficiency`: (N × seq_total) / wall — reads against box
  *     saturation: it approaches N when single queries under-fill the
  *     cores and streams overlap into the idle ones (the healthy
  *     shape on this 32-core box); on a box the sequential mix
  *     already saturates, 1.0 means full serialization of the
  *     streams; WELL BELOW 1 is the contention cliff (concurrency
  *     destroying work) at any saturation level,
  *   - per-stream p50/p95 query latencies and the slowest query.
  *
  * Streams deliberately do NOT unpersist checkpoint blocks mid-run:
  * Bench's between-query `unpersist all` is a GLOBAL sweep that would
  * kill another stream's in-flight localCheckpoint blocks
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) — the shared-state hazard this
  * probe exists to expose; concurrent callers must scope cleanup to
  * their own frames or defer it to a quiesced point, as done here
  * (one sweep after all streams join).
  *
  * The mix spans the operator families (TPC-H agg/join/window, dedup,
  * text, ANN probe, pipeline) but sticks to read-only queries — the
  * shared derived artifacts (IVF index etc.) are built ONCE in the
  * untimed warmup, so the timed phase exercises query concurrency,
  * not builder serialization. */
object ConcurrentBench {
  val Mix: Seq[String] = Seq(
    "q01_pricing_summary", "q04_region_customer_stats", "q06_rolling_vwap",
    "q09_ohlcv_bars", "q11_sort_limit", "q18_rollup_orders",
    "q45_returned_topn", "q61_sliding_window", "q84_cms_merge",
    "d01_dedup_exact_stats", "d04_dedup_simhash", "d11_substring_dedup",
    "t01_langid", "t05_token_rolling", "t09_sequence_packing",
    "t16_lm_score", "s01_cosine_topk", "s04_ann_ivf",
    "p03_classifier_mix", "q25_count_distinct")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    // contention-curve widths (comma list); a single int still works
    val widths = (if (args.length > 1) args(1) else "2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    require(widths.nonEmpty && widths.forall(_ >= 1),
      s"stream widths must be >= 1: $widths")
    val spark = graft.GraftSession(conf = Seq("spark.scheduler.mode" -> "FAIR"))
    val fns = graft.SparkEntry.queries
    val missing = Mix.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown mix queries: $missing")

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def runOne(name: String): Double = {
      val t0 = System.nanoTime()
      fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // failure tolerance is PHASE-UNIFORM: a query failing in warmup or
    // the sequential baseline is recorded and skipped exactly like one
    // failing inside a stream — the probe must emit its artifact (with
    // the errors array) no matter which phase a breakage lands in
    def runSafe(name: String, phase: String): Double =
      try runOne(name)
      catch { case NonFatal(e) => errors.add(s"$name@$phase: $e"); -1.0 }
    def sweep(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

    // untimed warmup: codegen compile + every shared derived artifact
    // (IVF index, …) built here, so the timed phases only read
    Mix.foreach(runSafe(_, "warmup"))
    sweep()
    // sequential baseline: one mix, Bench-style per-query cleanup —
    // shared across all widths (the workload is identical per stream)
    val seqTimes = Mix.map { n => val t = runSafe(n, "seq"); sweep(); t }
    val seqTotal = seqTimes.filter(_ >= 0).sum

    // -1 sentinel when a stream had zero successful queries: the
    // artifact (and its errors array) must still render — a stream
    // wiped out by contention is exactly the run worth reading
    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) -1.0
      else {
        val s = xs.sorted
        s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
      }
    val r4 = graft.Json.round4 _

    // one contention point: N streams, each the mix rotated by 5·i,
    // own FAIR pool, NO mid-run global unpersist (see scaladoc)
    def runWidth(streams: Int): ListMap[String, Any] = {
      val perStream = Array.fill(streams)(Vector.empty[(String, Double)])
      val t0 = System.nanoTime()
      val threads = (0 until streams).map { i =>
        val th = new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"stream_$i")
          val rotated = Mix.drop((i * 5) % Mix.size) ++ Mix.take((i * 5) % Mix.size)
          perStream(i) = rotated.map { n =>
            try n -> runOne(n)
            catch { case NonFatal(e) => errors.add(s"$n@w${streams}s$i: $e"); n -> -1.0 }
          }.toVector
        }, s"conc-w$streams-s$i")
        th.start(); th
      }
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      sweep()
      val streamStats = perStream.zipWithIndex.map { case (ts, i) =>
        val ok = ts.filter(_._2 >= 0)
        val worst = if (ok.nonEmpty) ok.maxBy(_._2) else ("none", -1.0)
        s"stream_$i" -> ListMap("p50" -> r4(pct(ok.map(_._2), 0.50)),
          "p95" -> r4(pct(ok.map(_._2), 0.95)),
          "worst" -> worst._1, "worst_sec" -> r4(worst._2))
      }
      val eff = streams * seqTotal / wall
      ListMap[String, Any]("streams" -> streams, "wall_sec" -> r4(wall),
        "efficiency" -> r4(eff)) ++ streamStats
    }

    // the CONTENTION CURVE: one point per width is a posture, one
    // width is a point — widths run ascending so the heavier phases
    // inherit a maximally warm cache like a steady multiplexed box
    val widthStats = widths.map(runWidth)

    // seq_ok < mix_size marks the efficiency numbers as computed over
    // MISMATCHED workloads (seqTotal dropped a failed query's time
    // while wall still covers every stream attempting the full mix) —
    // a consumer must not read such a run as a contention cliff
    val seqOk = seqTimes.count(_ >= 0)
    println(graft.Json.write(ListMap("metric" -> "concurrent_bench",
      "sf" -> sfDir, "mix_size" -> Mix.size, "seq_ok" -> seqOk,
      "seq_total_sec" -> r4(seqTotal), "widths" -> widthStats,
      "errors" -> errors.asScala.toSeq)))
    spark.stop()
  }
}
