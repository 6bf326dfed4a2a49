package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-side anomaly alert delivery (reference S9,
  * /root/reference/spark/jobs/stock_stream.py:103-114: collect flagged
  * rows, format one line per anomaly, send the joined message to a
  * Slack webhook). The Spark side stays a DataFrame transform
  * (`MinuteStream.metricsOnBars(..).filter($"is_anomaly")`); delivery
  * is an injected `post: String => Unit`, so production plugs in an
  * HTTP POST ([[AlertSink.webhook]]) and tests plug in a recorder.
  *
  * The collect here is the one legitimately driver-side step: alerts
  * are rare by construction (sigma-threshold flag), rows are sorted for
  * deterministic message text, and `maxRows` caps a pathological batch
  * (misconfigured threshold) so the driver can't be flooded.
  */
final class AlertSink(post: String => Unit, maxRows: Int = 100) extends Serializable {

  /** Format and deliver flagged metric rows (schema: symbol, timestamp,
    * close, vwap_5, vol_5, ...). No-op on an empty frame. Returns the
    * delivered message for callers that want to log it. */
  def deliver(flagged: DataFrame): Option[String] = {
    val rows = flagged
      .select(col("symbol"), col("timestamp"), col("close"), col("vwap_5"), col("vol_5"))
      .orderBy(col("timestamp"), col("symbol"))
      .limit(maxRows + 1)
      .collect()
    if (rows.isEmpty) None
    else {
      val lines = rows.take(maxRows).map { r =>
        f"Symbol: ${r.getAs[String]("symbol")}  Time: ${r.getAs[java.sql.Timestamp]("timestamp")}  " +
          f"Close: ${r.getAs[Double]("close")}%.2f  VWAP(5): ${r.getAs[Double]("vwap_5")}%.2f  " +
          f"Vol_5: ${r.getAs[Double]("vol_5")}%.2f"
      }
      val truncated =
        if (rows.length > maxRows) s"\n… (truncated at $maxRows rows)" else ""
      val msg = "ANOMALY DETECTED\n" + lines.mkString("\n") + truncated
      post(msg)
      Some(msg)
    }
  }

  /** Adapter for `MinuteStream.start(onAlert = sink.onAlert)`. */
  def onAlert: DataFrame => Unit = df => { deliver(df); () }
}

object AlertSink {
  /** Discards messages — keeps the formatting path exercised without I/O. */
  def noop: AlertSink = new AlertSink(_ => ())

  /** Records messages in-memory; the test double. */
  final class Recording extends Serializable {
    val messages = new scala.collection.mutable.ArrayBuffer[String]
    val sink = new AlertSink(m => messages.synchronized { messages += m })
  }

  /** HTTP POST to a Slack-compatible webhook: payload {"text": msg}.
    * One shared client with connect + request timeouts — delivery runs
    * on the streaming DRIVER inside foreachBatch, so an unresponsive
    * endpoint must fail the one alert, not wedge every micro-batch.
    * StreamEndToEndSpec drives it against a local HTTP server. */
  def webhook(url: String,
              timeout: java.time.Duration = java.time.Duration.ofSeconds(10)): AlertSink = {
    lazy val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(timeout).build()
    new AlertSink({ msg =>
      // a failed DELIVERY must cost only this alert: a throw here would
      // fail the foreachBatch AFTER bars/metrics were already appended,
      // and the checkpoint re-run would duplicate them. Log and move on.
      try {
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .timeout(timeout)
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            graft.Json.write(Map("text" -> msg))))
          .build()
        val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
        if (resp.statusCode() >= 300)
          System.err.println(s"[alert] webhook returned ${resp.statusCode()}; alert dropped")
      } catch {
        case e: Exception =>
          System.err.println(s"[alert] webhook delivery failed: ${e.getMessage}; alert dropped")
      }
    })
  }
}
