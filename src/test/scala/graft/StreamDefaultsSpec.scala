package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Connectors
import graft.streaming.{LocalCheckpointFiles, MinuteStream, StreamDefaults}

/** [[StreamDefaults]]: the one stream-start hook. Its artifact-isolation
  * default is what lets a restarted stream reuse the classes an earlier
  * start compiled. */
class StreamDefaultsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Writes a trade log of `minutes` one-trade minutes per symbol. */
  private def tradeLog(minutes: Int): String = {
    val log = Files.createTempDirectory("graft_defaults_log")
    val m0 = 1735732800000L
    val lines = for (m <- 0 until minutes; (s, i) <- Seq("AAPL", "MSFT", "TSLA").zipWithIndex)
      yield s"""{"data": [{"p": ${100.0 + m + i}, "s": "$s", "t": ${m0 + m * 60000L + 1000}, "v": 10.0}]}"""
    Files.write(log.resolve("trades.log"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    log.toString
  }

  /** One AvailableNow drain of `log` through [[MinuteStream.start]] on
    * `session`, into a fresh checkpoint and sink. */
  private def drain(session: SparkSession, log: String): Unit = {
    val q = MinuteStream.start(
      Connectors.logStream(session, log).select(col("value")),
      Files.createTempDirectory("graft_defaults_ckpt").toString,
      Files.createTempDirectory("graft_defaults_out").toString,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    assert(q.exception.isEmpty)
  }

  test("a second identical trade-stream drain compiles no new classes") {
    // each start runs in a clone of the session; with artifact isolation
    // on, the clone's executor classloader is new and so is the codegen
    // cache key of every class its tasks build
    val log = tradeLog(8)
    drain(spark, log)
    val again = Codegen.compiles(drain(spark, log))
    assert(again == 0, s"the second drain compiled $again classes")
  }

  test("a stream start keeps the artifact isolation its caller set") {
    val own = spark.newSession()
    own.conf.set(StreamDefaults.ArtifactIsolationKey, "true")
    drain(own, tradeLog(3))
    assert(own.conf.get(StreamDefaults.ArtifactIsolationKey) == "true")
    assert(own.conf.get(StreamDefaults.CheckpointManagerKey) == classOf[LocalCheckpointFiles].getName)
  }

  test("install sets both defaults on a fresh session, and a second install changes nothing") {
    val fresh = spark.newSession()
    // Spark's own default, which install must not mistake for a choice
    assert(fresh.conf.get(StreamDefaults.ArtifactIsolationKey) == "true")
    StreamDefaults.install(fresh)
    val once = fresh.conf.getAll
    assert(once.get(StreamDefaults.ArtifactIsolationKey).contains("false"))
    assert(once.get(StreamDefaults.CheckpointManagerKey).contains(classOf[LocalCheckpointFiles].getName))
    StreamDefaults.install(fresh)
    assert(fresh.conf.getAll == once)
  }
}
