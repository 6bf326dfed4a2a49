package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.MinuteStream

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def envelope(trades: (String, Double, Long, Double)*): String = {
    val items = trades.map { case (s, p, t, v) =>
      s"""{"p": $p, "s": "$s", "t": $t, "v": $v}"""
    }.mkString(",")
    s"""{"data": [$items]}"""
  }

  test("parseTrades: envelope JSON → flat trades with epoch-ms cast") {
    val raw = Seq(envelope(("AAPL", 190.0, 1735732800000L, 5.0),
      ("MSFT", 400.0, 1735732801500L, 2.0))).toDF("value")
    val got = MinuteStream.parseTrades(raw)
      .as[(String, Double, Double, Timestamp)].collect().sortBy(_._1)
    assert(got.length == 2)
    assert(got(0) == ("AAPL", 190.0, 5.0, new Timestamp(1735732800000L)))
    assert(got(1)._4 == new Timestamp(1735732801500L))
  }

  test("parseTrades: malformed JSON and empty envelopes yield no rows") {
    val raw = Seq("not json at all", """{"data": []}""").toDF("value")
    assert(MinuteStream.parseTrades(raw).count() == 0)
  }

  test("streaming minute bars: watermark + dedup + deterministic OHLCV") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val bars = MinuteStream.minuteBars(
      MinuteStream.parseTrades(input.toDF().withColumnRenamed("value", "value")))
    val m0 = 1735732800000L // minute-aligned epoch
    input.addData(
      envelope(("AAPL", 10.0, m0 + 5000, 1.0), ("AAPL", 12.0, m0 + 30000, 2.0)),
      envelope(("AAPL", 11.0, m0 + 59000, 3.0)),
      envelope(("AAPL", 11.0, m0 + 59000, 3.0)), // exact duplicate → deduped
      // next minutes push the watermark past m0's window so it emits
      envelope(("AAPL", 99.0, m0 + 70000, 1.0)),
      envelope(("AAPL", 98.0, m0 + 300000, 1.0)))
    // AvailableNow drains what the source holds when the query starts,
    // so the trades go in first
    val query = bars.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("bars_test")
      .trigger(Trigger.AvailableNow())
      .start()
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("bars_test")
      .select("symbol", "timestamp", "open", "high", "low", "close", "volume")
      .as[(String, Timestamp, Double, Double, Double, Double, Double)]
      .collect().sortBy(_._2.getTime)
    assert(rows.nonEmpty, "watermark should have closed the first window")
    val first = rows.head
    assert(first._1 == "AAPL" && first._2 == new Timestamp(m0))
    assert(first._3 == 10.0 && first._4 == 12.0 && first._5 == 10.0 && first._6 == 11.0)
    assert(first._7 == 6.0, "duplicate trade must not double-count volume")
  }

  test("metricsOnBars: anomaly flag on a price jump, false on NULL vol") {
    val bars = Seq(
      ("A", new Timestamp(0L), 100.0, 1000.0),
      ("A", new Timestamp(60000L), 100.0, 1000.0),
      ("A", new Timestamp(120000L), 100.0, 1000.0),
      ("A", new Timestamp(180000L), 100.0, 1000.0),
      ("A", new Timestamp(240000L), 500.0, 1.0)
    ).toDF("symbol", "timestamp", "close", "volume")
    val m = MinuteStream.metricsOnBars(bars, threshold = 2.0)
    val flagged = m.filter(col("is_anomaly")).select("timestamp")
      .as[Timestamp].collect()
    assert(flagged.toSeq == Seq(new Timestamp(240000L)))
    // first row (frame of 1) must be false, not null
    assert(m.orderBy("timestamp").select("is_anomaly").as[Boolean].head() == false)
  }
}
