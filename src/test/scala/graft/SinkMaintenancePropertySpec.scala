package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{MinuteStream, SinkMaintenance}

/** Randomized (seeded, deterministic) interleaving of the sink
  * lifecycle: writeBatch / replay-last-batch / compact at varying
  * minBatches / read. The invariant after EVERY step: [[SinkMaintenance
  * .read]] returns exactly the set of bars ever written, each once —
  * independent of where in the fold / deferred-delete cycle the step
  * lands. This is the generalization of the hand-picked sequences in
  * StreamEndToEndSpec's compaction tests.
  */
class SinkMaintenancePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("read() is exact after any interleaving of write/replay/compact") {
    val rnd = new scala.util.Random(4242L)
    val out = Files.createTempDirectory("graft_sink_prop").toString
    def bar(minute: Int, close: Double) =
      ("AAPL", new java.sql.Timestamp(1735732800000L + minute * 60000L),
        close, close, close, close, 100.0)
    var nextMinute = 0
    var lastBatch: Option[(Long, Seq[(String, java.sql.Timestamp, Double, Double, Double, Double, Double)])] = None
    var nextId = 0L
    val expected = scala.collection.mutable.Set
      .empty[(String, java.sql.Timestamp, Double)]
    (0 until 24).foreach { step =>
      rnd.nextInt(4) match {
        case 0 | 1 => // write a fresh batch of 1-3 new minutes
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            val b = bar(nextMinute, 10.0 + nextMinute); nextMinute += 1; b
          }
          MinuteStream.writeBatch(
            rows.toDF("symbol", "timestamp", "open", "high", "low", "close", "volume"),
            nextId, out)
          rows.foreach(r => expected += ((r._1, r._2, r._6)))
          lastBatch = Some((nextId, rows)); nextId += 1
        case 2 => // at-least-once replay of the most recent batch
          lastBatch.foreach { case (id, rows) =>
            MinuteStream.writeBatch(
              rows.toDF("symbol", "timestamp", "open", "high", "low", "close", "volume"),
              id, out)
          }
        case 3 => // exactness must hold through every clustering flavor
          SinkMaintenance.compact(spark, s"$out/bars", 1 + rnd.nextInt(3),
            clusterBy = rnd.nextInt(3) match {
              case 0 => Nil
              case 1 => Seq("close")
              case _ => Seq("close", "volume")
            })
      }
      if (SinkMaintenance.hasData(spark, s"$out/bars")) {
        val got = SinkMaintenance.read(spark, s"$out/bars")
          .select("symbol", "timestamp", "close").collect()
          .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
        assert(got.length == got.distinct.length,
          s"step $step surfaced duplicates")
        assert(got.toSet == expected.toSet,
          s"step $step diverged: missing=${expected.toSet -- got.toSet} " +
            s"extra=${got.toSet -- expected.toSet}")
      }
    }
    assert(expected.nonEmpty && nextId >= 2, "the walk must exercise writes")

    // Plan lock for the masking claim: the batch_id predicate must be a
    // PARTITION filter (pruned at file listing), not a data filter — at
    // 100 TB the masked directories must never reach the scan.
    val plan = SinkMaintenance.read(spark, s"$out/bars")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
      """PartitionFilters: \[[^\]]*batch_id""".r.findFirstIn(plan).isDefined,
      s"batch_id must prune partitions, plan was:\n$plan")
  }

  test("clustered compaction writes the cumulative fold in cluster-key order") {
    val out = Files.createTempDirectory("graft_sink_cluster").toString
    val rnd = new scala.util.Random(7)
    // three batches of shuffled closes
    (0 until 3).foreach { id =>
      val rows = (0 until 20).map { i =>
        ("AAPL", new java.sql.Timestamp(1735732800000L + (id * 20 + i) * 60000L),
          0.0, 0.0, 0.0, rnd.nextInt(1000).toDouble, 100.0)
      }
      MinuteStream.writeBatch(
        rows.toDF("symbol", "timestamp", "open", "high", "low", "close", "volume"),
        id.toLong, out)
    }
    SinkMaintenance.compact(spark, s"$out/bars", minBatches = 1,
      clusterBy = Seq("close"))
    // the cumulative partition exists and its rows come back sorted
    val cumDir = new java.io.File(s"$out/bars").listFiles()
      .filter(_.getName.startsWith("batch_id=-")).map(_.getPath)
    assert(cumDir.nonEmpty, "compaction must produce a cumulative partition")
    val closes = spark.read.parquet(cumDir.head).where($"symbol" === "AAPL")
      .select("close").as[Double].collect()
    assert(closes.length >= 40) // ids 0..1 are checkpoint-final at compact time
    assert(closes.toSeq == closes.sorted.toSeq,
      "clustered fold must be written in cluster-key order")
    // and the crash-consistent view still returns every row exactly once
    assert(SinkMaintenance.read(spark, s"$out/bars").count() == 60)
  }
}
