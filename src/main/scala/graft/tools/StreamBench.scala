package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.util.control.NonFatal

/** Streaming throughput probe: the full reference pipeline (graftlog
  * source → JSON envelope parse → watermarked dedup → 1-minute OHLCV
  * bars → rolling metrics + anomaly flags → idempotent partitioned
  * parquet sink, i.e. exactly [[graft.streaming.MinuteStream.start]])
  * driven end-to-end over a generated trade log, reporting
  * trades/second.
  *
  * Why it exists: the reference publishes no benchmark numbers, but its
  * operational envelope is known (BASELINE.md — 1-minute micro-batches
  * over 4 tracked symbols × 25 bars fetched per symbol per cycle, i.e.
  * single-digit records/second sustained). This probe measures what the
  * same pipeline sustains here, single-node, through the DSv2 offset
  * machinery — the matches-or-beats evidence for the streaming half of
  * the engine.
  *
  * Shape notes:
  *  - input is written as `nFiles` append-only log files; graftlog
  *    plans one partition per (file, range), so `nFiles` bounds source
  *    parallelism exactly like Kafka partition count.
  *  - `maxLinesPerTrigger` splits the run into several micro-batches so
  *    the watermark advances and windows actually FLUSH through the
  *    foreachBatch sink mid-run — a single AvailableNow batch would
  *    hold every window in state and measure ingest only.
  *  - envelopes batch `perLine` trades per log line (the producer-side
  *    batching a real Kafka edge does), generated by codegen'd
  *    expressions — no driver-side row materialization anywhere.
  *
  * Run: `sbt "runMain graft.tools.StreamBench [nTrades] [nFiles] [batches]"`.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nTrades = if (args.length > 0) args(0).toLong else 2000000L
    val nFiles = if (args.length > 1) args(1).toInt else 16
    val batches = if (args.length > 2) args(2).toInt else 8
    val perLine = 50L
    val spark = graft.GraftSession()

    val work = java.nio.file.Files.createTempDirectory("graft_sbench")
    val logDir = s"$work/log"
    val outDir = s"$work/out"
    val ckpt = s"$work/ckpt"

    // -- generate (untimed): nTrades trades, 100 symbols, spread over 30
    // minutes of event time, perLine trades per envelope line. Event
    // time ASCENDS with envelope id, and each file is sorted by id, so
    // every file's line order is arrival order (like a Kafka partition)
    // — micro-batches then advance the watermark monotonically instead
    // of marking most of the input late. Hash repartition on id spreads
    // the full time range uniformly across files. --
    val nLines = (nTrades + perLine - 1) / perLine
    val baseMs = 1704067200000L
    val msPerLine = 1800000.0 / nLines
    val line = to_json(struct(
      transform(sequence(lit(0L), lit(perLine - 1)), i => {
        val tid = col("id") * perLine + i
        struct(
          (pmod(xxhash64(tid), lit(10000L)).cast("double") / 100.0 + 50.0).as("p"),
          concat(lit("S"), pmod(xxhash64(tid, lit(1)), lit(100L))).as("s"),
          (lit(baseMs) + col("id") * lit(msPerLine) + i.cast("double")).as("t"),
          (pmod(xxhash64(tid, lit(3)), lit(100L)) + 1).cast("double").as("v"))
      }).as("data")))
    spark.range(nLines)
      .repartition(nFiles, col("id"))
      .sortWithinPartitions("id")
      .select(line.as("value"))
      .write.text(logDir)

    // -- timed: the full MinuteStream pipeline over the log --
    val linesPerTrigger = math.max(1L, nLines / batches)
    val envelopes = spark.readStream.format("graftlog")
      .option("path", logDir)
      .option("maxLinesPerTrigger", linesPerTrigger)
      .load()
    val t0 = System.nanoTime()
    val q = graft.streaming.MinuteStream.start(
      envelopes, ckpt, outDir,
      trigger = Trigger.AvailableNow(),
      compactEvery = 0)
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9

    // windows inside the final watermark horizon stay in state by
    // design; report what flushed. An unreadable sink is a failed run,
    // not "0 flushed".
    def countOf(p: String): Long =
      try spark.read.parquet(p).count()
      catch { case NonFatal(e) =>
        System.err.println(s"[streambench] reading sink $p failed: $e")
        spark.stop()
        sys.exit(1)
      }
    val bars = countOf(s"$outDir/bars")
    val metrics = countOf(s"$outDir/metrics")
    println(f"[streambench] trades=$nTrades%d files=$nFiles%d " +
      f"batches=$batches%d wall=$sec%.1fs " +
      f"rate=${nTrades / sec}%.0f trades/s bars_flushed=$bars%d " +
      f"metrics_flushed=$metrics%d")
    spark.stop()
  }
}
