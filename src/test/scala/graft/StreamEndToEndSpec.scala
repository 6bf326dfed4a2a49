package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{AlertSink, MinuteStream}

/** E2 parity end-to-end (SURVEY §3): envelopes → parse → watermarked
  * deduped bars → foreachBatch → parquet bars+metrics + alert rows. */
class StreamEndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("full pipeline writes bars and metrics parquet and surfaces alerts") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft_stream").toString
    val checkpoint = Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[String]
    var alerts = 0L
    val recorder = new AlertSink.Recording
    val q = MinuteStream.start(input.toDF(), checkpoint, out,
      trigger = Trigger.ProcessingTime("0 seconds"),
      threshold = 2.0,
      onAlert = (df: DataFrame) => { alerts += df.count(); recorder.sink.onAlert(df) })
    val m0 = 1735732800000L
    def env(p: Double, t: Long, v: Double) =
      s"""{"data": [{"p": $p, "s": "AAPL", "t": $t, "v": $v}]}"""
    // five minutes of bars; the last minute spikes with tiny volume
    input.addData(env(100.0, m0 + 1000, 1000.0))
    input.addData(env(100.0, m0 + 61000, 1000.0))
    input.addData(env(100.0, m0 + 121000, 1000.0))
    input.addData(env(100.0, m0 + 181000, 1000.0))
    input.addData(env(500.0, m0 + 241000, 1.0))
    // push watermark far enough to close all five windows
    input.addData(env(100.0, m0 + 600000, 1.0))
    q.processAllAvailable()
    q.stop()
    val bars = spark.read.parquet(s"$out/bars")
    assert(bars.count() >= 5, s"expected ≥5 closed bars, got ${bars.count()}")
    val metrics = spark.read.parquet(s"$out/metrics")
    assert(metrics.columns.toSet ==
      Set("symbol", "timestamp", "close", "vwap_5", "vol_5", "is_anomaly", "batch_id"))
    assert(metrics.count() == bars.count())
    assert(alerts >= 1L, "the spike bar must surface through onAlert")
    // S9 parity: the delivered message matches the reference's format
    // (stock_stream.py:108-113) — header + one line per flagged row
    val delivered = recorder.messages.mkString("\n")
    assert(recorder.messages.nonEmpty, "AlertSink must deliver for the spike")
    assert(delivered.startsWith("ANOMALY DETECTED\n"))
    assert(delivered.contains("Symbol: AAPL") && delivered.contains("Close: 500.00"),
      s"unexpected alert text: $delivered")
  }

  test("replaying a batch overwrites its own partitions: no duplicate bars") {
    // the at-least-once failure mode: crash AFTER the parquet write,
    // BEFORE the checkpoint commit → on restart foreachBatch re-runs
    // the same batchId. Calling writeBatch twice with one id IS that
    // replay; the sink must end up with each bar exactly once.
    val out = Files.createTempDirectory("graft_replay").toString
    def bar(sym: String, minute: Int, close: Double) =
      (sym, new java.sql.Timestamp(1735732800000L + minute * 60000L),
        close, close, close, close, 100.0)
    val b0 = Seq(bar("AAPL", 0, 10.0), bar("MSFT", 0, 20.0))
      .toDF("symbol", "timestamp", "open", "high", "low", "close", "volume")
    MinuteStream.writeBatch(b0, 0L, out)
    MinuteStream.writeBatch(b0, 0L, out) // replay of batch 0
    val b1 = Seq(bar("AAPL", 1, 11.0))
      .toDF("symbol", "timestamp", "open", "high", "low", "close", "volume")
    MinuteStream.writeBatch(b1, 1L, out)
    val bars = spark.read.parquet(s"$out/bars")
    assert(bars.count() == 3, "replayed batch must not duplicate rows")
    assert(bars.select("symbol", "timestamp").distinct().count() == 3)
    val metrics = spark.read.parquet(s"$out/metrics")
    assert(metrics.count() == 3)
    // different batches coexist: the overwrite touches only its own id
    assert(bars.select("batch_id").distinct().count() == 2)
  }

  test("compaction folds finalized batch partitions, preserves rows, and masks crash leftovers") {
    import graft.streaming.SinkMaintenance
    val out = Files.createTempDirectory("graft_compact").toString
    def bar(sym: String, minute: Int, close: Double) =
      (sym, new java.sql.Timestamp(1735732800000L + minute * 60000L),
        close, close, close, close, 100.0)
    (0 to 5).foreach { i =>
      val b = Seq(bar("AAPL", i, 10.0 + i), bar("MSFT", i, 20.0 + i))
        .toDF("symbol", "timestamp", "open", "high", "low", "close", "volume")
      MinuteStream.writeBatch(b, i.toLong, out)
    }
    val before = spark.read.parquet(s"$out/bars")
      .drop("batch_id").collect().toSet
    def dirs() = new java.io.File(s"$out/bars").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs().size == 6)
    // ids 0..4 are final (5 is the live maximum): fold them into one.
    // Sources are deferred-deleted (concurrent-reader grace window), so
    // they survive THIS call and the cleanup sweep of the NEXT one
    // removes them.
    SinkMaintenance.compact(spark, s"$out/bars", minBatches = 3)
    assert(dirs() == Set("batch_id=-5", "batch_id=0", "batch_id=1",
      "batch_id=2", "batch_id=3", "batch_id=4", "batch_id=5"),
      s"fold must keep its sources for one grace cycle, got ${dirs()}")
    assert(SinkMaintenance.read(spark, s"$out/bars").collect().toSet == before)
    // next call's sweep clears the subsumed sources; nothing new to fold
    SinkMaintenance.compact(spark, s"$out/bars", minBatches = 3)
    assert(dirs() == Set("batch_id=-5", "batch_id=5"),
      s"expected cumulative(<=4) + live 5 after the grace cycle, got ${dirs()}")
    assert(SinkMaintenance.read(spark, s"$out/bars").collect().toSet == before)
    // idempotent: nothing pending, nothing changes
    SinkMaintenance.compact(spark, s"$out/bars", minBatches = 3)
    assert(dirs() == Set("batch_id=-5", "batch_id=5"))
    // crash-before-cleanup leftovers: a stale source dir reappears —
    // read() must mask it, the next compact() must delete it
    val stale = new java.io.File(s"$out/bars/batch_id=2")
    stale.mkdirs()
    java.nio.file.Files.copy(
      new java.io.File(s"$out/bars/batch_id=5").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath,
      new java.io.File(stale, "leftover.parquet").toPath)
    assert(SinkMaintenance.read(spark, s"$out/bars").collect().toSet == before)
    SinkMaintenance.compact(spark, s"$out/bars", minBatches = 3)
    assert(dirs() == Set("batch_id=-5", "batch_id=5"))
    // second generation: more batches arrive, the cumulative widens —
    // read() masks the grace-window leftovers immediately, and the
    // next sweep physically removes them
    (6 to 9).foreach { i =>
      val b = Seq(bar("AAPL", i, 10.0 + i)).toDF(
        "symbol", "timestamp", "open", "high", "low", "close", "volume")
      MinuteStream.writeBatch(b, i.toLong, out)
    }
    SinkMaintenance.compact(spark, s"$out/bars", minBatches = 3)
    assert(SinkMaintenance.read(spark, s"$out/bars").count() == 16)
    SinkMaintenance.compact(spark, s"$out/bars", minBatches = 3)
    assert(dirs() == Set("batch_id=-9", "batch_id=9"))
    assert(SinkMaintenance.read(spark, s"$out/bars").count() == 16)
  }

  test("compaction under live fire: read stays row-complete after every batch") {
    // compaction racing the live stream — compactEvery=2 over ~12
    // micro-batches, folding aggressively (minBatches=1). The invariant
    // under test: SinkMaintenance.read never loses a row, no matter
    // where in the fold/delete cycle a batch lands.
    import graft.streaming.SinkMaintenance
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft_livefire").toString
    val checkpoint = Files.createTempDirectory("graft_livefire_ckpt").toString
    val input = MemoryStream[String]
    val q = MinuteStream.start(input.toDF(), checkpoint, out,
      trigger = Trigger.ProcessingTime("0 seconds"),
      compactEvery = 2, compactMinBatches = 1)
    val m0 = 1735732800000L
    def env(p: Double, t: Long) =
      s"""{"data": [{"p": $p, "s": "AAPL", "t": $t, "v": 10.0}]}"""
    var prev = Set.empty[org.apache.spark.sql.Row]
    val minutes = 10
    (0 until minutes).foreach { i =>
      input.addData(env(100.0 + i, m0 + i * 60000L + 1000))
      q.processAllAvailable()
      // until the watermark closes the first window the sink has no
      // partitions yet (an empty overwrite leaves only _SUCCESS) —
      // nothing to check
      if (SinkMaintenance.hasData(spark, s"$out/bars")) {
        val cur = SinkMaintenance.read(spark, s"$out/bars").collect().toSet
        assert(prev.subsetOf(cur),
          s"batch $i lost rows: ${prev.diff(cur)}")
        val keys = cur.map(r => (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("timestamp")))
        assert(keys.size == cur.size, s"batch $i surfaced duplicate bars")
        prev = cur
      }
    }
    // push the watermark past every window, then drain
    input.addData(env(1.0, m0 + (minutes + 10) * 60000L))
    q.processAllAvailable()
    q.stop()
    val finalBars = SinkMaintenance.read(spark, s"$out/bars")
    assert(finalBars.where(s"timestamp < timestamp_millis(${m0 + minutes * 60000L})")
      .count() == minutes, "every closed minute must surface exactly once")
    assert(finalBars.select("symbol", "timestamp").distinct().count() ==
      finalBars.count())
    // metrics sink obeys the same contract
    val finalMetrics = SinkMaintenance.read(spark, s"$out/metrics")
    assert(finalMetrics.count() == finalBars.count())
    // compaction actually folded: far fewer partition dirs than batches,
    // and a cumulative (negative-id) partition exists
    val dirs = new java.io.File(s"$out/bars").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch_id="))
    assert(dirs.exists(_.startsWith("batch_id=-")),
      s"expected a cumulative partition, got ${dirs.toSeq}")
    // steady-state bound with deferred deletion: cumulative + previous
    // fold's grace-window sources + live batches since the last fold
    assert(dirs.length <= 8,
      s"partition count must stay bounded, got ${dirs.toSeq}")
  }

  /** The restart scenario behind the two tests below: minutes 0-5
    * through one query, minute 6 while it is down, minutes 7-11 through
    * a second query on the same checkpoint. The first query checkpoints
    * through the manager class `firstManager` names, if any. Asserts
    * every bar surfaces exactly once and compaction keeps folding;
    * returns the checkpoint dir. Driven through the graftlog DSv2 source
    * so the restart genuinely resumes committed offsets. */
  private def restartAcross(firstManager: Option[String]): java.nio.file.Path = {
    import graft.streaming.{SinkMaintenance, StreamDefaults}
    import graft.sources.Connectors
    import org.apache.spark.sql.functions.col
    val logDir = Files.createTempDirectory("graft_restart_log")
    val ckpt = Files.createTempDirectory("graft_restart_ckpt")
    val out = Files.createTempDirectory("graft_restart_out").toString
    def append(lines: String*): Unit = {
      val f = logDir.resolve("trades.log")
      Files.write(f, (lines.mkString("\n") + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    }
    val m0 = 1735732800000L
    def env(p: Double, t: Long) =
      s"""{"data": [{"p": $p, "s": "AAPL", "t": $t, "v": 10.0}]}"""
    def startQ() = MinuteStream.start(
      Connectors.logStream(spark, logDir.toString).select(col("value")),
      ckpt.toString, out, trigger = Trigger.ProcessingTime("0 seconds"),
      compactEvery = 2, compactMinBatches = 1)
    // a stream copies the session conf when it starts
    firstManager.foreach(spark.conf.set(StreamDefaults.CheckpointManagerKey, _))
    val q1 = try startQ() finally firstManager.foreach(_ => spark.conf.unset(StreamDefaults.CheckpointManagerKey))
    (0 until 6).foreach { i =>
      append(env(100.0 + i, m0 + i * 60000L + 1000))
      q1.processAllAvailable()
    }
    q1.stop()
    // lines landing while the stream is DOWN must surface after restart
    append(env(200.0, m0 + 6 * 60000L + 1000))
    val q2 = startQ()
    q2.processAllAvailable()
    (7 until 12).foreach { i =>
      append(env(100.0 + i, m0 + i * 60000L + 1000))
      q2.processAllAvailable()
    }
    append(env(1.0, m0 + 30 * 60000L)) // push watermark past every window
    q2.processAllAvailable()
    q2.stop()
    val bars = SinkMaintenance.read(spark, s"$out/bars")
      .where(s"timestamp < timestamp_millis(${m0 + 12 * 60000L})")
    assert(bars.count() == 12,
      "every minute across the restart boundary must surface exactly once")
    assert(bars.select("symbol", "timestamp").distinct().count() == 12)
    // minute 6 (down-time line) came through with its restart-side price
    assert(bars.where(s"timestamp = timestamp_millis(${m0 + 6 * 60000L})")
      .select("close").head().getDouble(0) == 200.0)
    // compaction kept folding across the boundary
    val dirs = new java.io.File(s"$out/bars").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch_id="))
    assert(dirs.exists(_.startsWith("batch_id=-")),
      s"expected a cumulative partition after restart, got ${dirs.toSeq}")
    assert(dirs.length <= 8,
      s"partition count must stay bounded across restart, got ${dirs.toSeq}")
    ckpt
  }

  test("restart from checkpoint resumes compaction-managed sinks without loss or dup") {
    // The T2 x compaction interplay: batchIds continue from the
    // checkpoint after a restart, so the fold must treat pre-restart
    // partitions as finalized history and keep the read contract intact
    // across the boundary.
    restartAcross(firstManager = None)
  }

  test("a checkpoint written by Spark's default manager resumes under LocalCheckpointFiles") {
    // the default manager writes through Hadoop's checksummed local file
    // system, which leaves a hidden `.N.crc` sidecar beside each file;
    // the resumed query reads past them and writes none of its own
    val ckpt = restartAcross(firstManager = Some(classOf[
      org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager].getName))
    def batchIds(names: Seq[String]) = names.filter(_.forall(_.isDigit)).map(_.toLong)
    val offsets = ckpt.resolve("offsets").toFile.list().toSeq
    val sidecarred = batchIds(offsets.collect {
      case n if n.startsWith(".") && n.endsWith(".crc") => n.stripPrefix(".").stripSuffix(".crc")
    })
    assert(sidecarred.nonEmpty, s"the first query left no sidecars: $offsets")
    val resumed = batchIds(offsets).filter(_ > sidecarred.max)
    assert(resumed.nonEmpty, s"the second query logged no offsets: $offsets")
  }

  test("AlertSink is silent on an empty frame and truncates floods") {
    val flagged = Seq(
      ("A", java.sql.Timestamp.valueOf("2025-01-01 10:01:00"), 10.0, 9.0, 0.1),
      ("B", java.sql.Timestamp.valueOf("2025-01-01 10:00:00"), 20.0, 19.0, 0.2),
      ("C", java.sql.Timestamp.valueOf("2025-01-01 10:02:00"), 30.0, 29.0, 0.3)
    ).toDF("symbol", "timestamp", "close", "vwap_5", "vol_5")
    val rec = new AlertSink.Recording
    assert(rec.sink.deliver(flagged.limit(0)).isEmpty && rec.messages.isEmpty)
    val capped = new scala.collection.mutable.ArrayBuffer[String]
    val small = new AlertSink(capped += _, maxRows = 2)
    val msg = small.deliver(flagged).get
    // sorted by (timestamp, symbol): B first, then A; C truncated away
    assert(msg.linesIterator.toSeq(1).contains("Symbol: B"))
    assert(msg.contains("truncated at 2") && !msg.contains("Symbol: C"))
  }

  test("webhook payload escaping covers quotes, backslashes, and control chars") {
    // the symbol lands verbatim in the message text; a local server
    // receives the POST, whose body must parse back to {"text": msg}
    val nasty = "a\tb\"c\\d\ne" + 1.toChar
    val flagged = Seq((nasty, java.sql.Timestamp.valueOf("2025-01-01 10:00:00"),
      10.0, 9.0, 0.1)).toDF("symbol", "timestamp", "close", "vwap_5", "vol_5")
    val bodies = new java.util.concurrent.LinkedBlockingQueue[String]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(204, -1)
      ex.close()
    })
    server.start()
    try {
      val msg = AlertSink.webhook(s"http://127.0.0.1:${server.getAddress.getPort}/")
        .deliver(flagged).get
      assert(msg.contains(nasty))
      val body = bodies.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(body != null, "webhook POST never arrived")
      assert(Json.mapper.readValue(body, classOf[Map[String, String]]) ==
        Map("text" -> msg), body)
    } finally server.stop(0)
  }
}
