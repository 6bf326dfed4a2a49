package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

import graft.sources.Connectors
import graft.streaming.{MinuteStream, SinkMaintenance}

/** Walks adaptive plans into their final query stages. */
private object PlanWalk extends AdaptiveSparkPlanHelper

/** The trade-stream sink layout: `batch_id=<id>/` holds one parquet file
  * per table per micro-batch, its rows sorted by (symbol, timestamp), so
  * a symbol read prunes parquet row groups by min/max statistics where
  * the earlier layout pruned `symbol=` directories. Empty micro-batches
  * write nothing. The two writes run at the same time and start no
  * process. */
class SinkLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Cols = Seq("symbol", "timestamp", "open", "high", "low", "close", "volume")
  private val Symbols = Seq("MSFT", "AAPL", "TSLA", "GOOG")

  /** `minutes` bars per symbol, shuffled and spread over 3 partitions,
    * so the sorted single file is the writer's doing. */
  private def bars(minutes: Int, seed: Long): DataFrame = {
    val rows = for (s <- Symbols; m <- 0 until minutes) yield {
      val c = 100.0 + m % 17
      (s, new java.sql.Timestamp(1735732800000L + m * 60000L), c, c, c, c, 10.0 + m)
    }
    new scala.util.Random(seed).shuffle(rows).toDF(Cols: _*).repartition(3)
  }

  private def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  private def batchDirs(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("batch_id="))

  test("a micro-batch lands as one (symbol, timestamp)-sorted file per table") {
    val out = Files.createTempDirectory("graft_sink_layout").toString
    MinuteStream.writeBatch(bars(6, 1L), 3L, out)
    for (table <- Seq("bars", "metrics")) {
      assert(batchDirs(s"$out/$table") == Seq("batch_id=3"))
      val files = parquetFiles(s"$out/$table/batch_id=3")
      assert(files.size == 1, s"$table: expected one file, got ${files.map(_.getName)}")
      assert(!new File(s"$out/$table/batch_id=3").listFiles().exists(_.isDirectory),
        s"$table: no partition level below batch_id")
      val keys = spark.read.parquet(files.head.getPath)
        .select("symbol", "timestamp").as[(String, java.sql.Timestamp)].collect().toSeq
      assert(keys.size == Symbols.size * 6)
      assert(keys == keys.sortBy { case (s, t) => (s, t.getTime) },
        s"$table rows must be in (symbol, timestamp) order")
    }
  }

  test("the metrics write reuses the sorted bars: no shuffle") {
    // the window needs its rows clustered by symbol and ordered by
    // (symbol, timestamp); the single sorted partition the bars are
    // written from already is, so the metrics job plans no exchange
    val out = Files.createTempDirectory("graft_sink_metrics_plan").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { MinuteStream.writeBatch(bars(6, 4L), 0L, out); GraftBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    val metricsWrite = plans.asScala.filter(PlanWalk.find(_) {
      case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _) =>
        w.outputPath.getName == "metrics"
      case _ => false
    }.isDefined).toSeq
    assert(metricsWrite.size == 1)
    val shuffles = PlanWalk.collect(metricsWrite.head) { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"metrics write plan:\n${metricsWrite.head}")
  }

  test("a new batch id compiles no new classes, and batch_id keeps its type") {
    // codegen inlines a long literal into the write stages' source, so
    // every batch id would compile two classes that differ only in it
    val out = Files.createTempDirectory("graft_sink_batch_codegen").toString
    val frame = bars(4, 5L)
    MinuteStream.writeBatch(frame, 1L, out)
    val again = Codegen.compiles(MinuteStream.writeBatch(frame, 2L, out))
    assert(again == 0, s"batch 2 compiled $again classes")
    def batchIdType = spark.read.parquet(s"$out/bars").schema("batch_id").dataType
    assert(batchIdType == org.apache.spark.sql.types.IntegerType)
    assert(SinkMaintenance.read(spark, s"$out/bars").count() == 2 * Symbols.size * 4)
    SinkMaintenance.compact(spark, s"$out/bars", minBatches = 1)
    assert(batchDirs(s"$out/bars").sorted == Seq("batch_id=-2", "batch_id=1", "batch_id=2"))
    assert(batchIdType == org.apache.spark.sql.types.IntegerType)
    assert(SinkMaintenance.read(spark, s"$out/bars").count() == 2 * Symbols.size * 4)
  }

  test("an empty micro-batch, and its replay, writes nothing") {
    val out = Files.createTempDirectory("graft_sink_empty").toString
    MinuteStream.writeBatch(bars(2, 2L), 0L, out)
    val empty = bars(1, 3L).limit(0)
    MinuteStream.writeBatch(empty, 1L, out)
    MinuteStream.writeBatch(empty, 1L, out) // at-least-once replay
    for (table <- Seq("bars", "metrics"))
      assert(batchDirs(s"$out/$table") == Seq("batch_id=0"), table)
    // no write job runs at all: even an empty overwrite would leave the
    // table directory and its _SUCCESS marker behind
    val fresh = Files.createTempDirectory("graft_sink_fresh").toString
    MinuteStream.writeBatch(empty, 0L, fresh)
    MinuteStream.writeBatch(empty, 0L, fresh)
    assert(!new File(s"$fresh/bars").exists && !new File(s"$fresh/metrics").exists)
    assert(!SinkMaintenance.hasData(spark, s"$fresh/bars"))
  }

  test("a symbol read pushes EqualTo(symbol) to parquet and reads fewer bytes") {
    val out = Files.createTempDirectory("graft_sink_prune").toString
    // a small row-group size gives the batch file over a dozen row groups
    // (the session conf reaches the parquet writer's Hadoop conf); the
    // file is large enough that row-group payloads, not footer and
    // dictionary reads, dominate the bytes a scan reads
    spark.conf.set("parquet.block.size", (64 * 1024).toString)
    try MinuteStream.writeBatch(bars(20000, 10L), 0L, out)
    finally spark.conf.unset("parquet.block.size")
    val sink = SinkMaintenance.read(spark, s"$out/bars")
    val one = sink.where($"symbol" === "TSLA")
    val plan = one.queryExecution.executedPlan.toString
    assert("""PushedFilters: \[[^\]]*EqualTo\(symbol,TSLA\)""".r.findFirstIn(plan).isDefined,
      s"symbol predicate must reach the parquet reader, plan was:\n$plan")

    def inputBytes(df: DataFrame): Long = {
      val sc = spark.sparkContext
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      GraftBus.drain(sc)
      sc.addSparkListener(listener)
      try { df.write.format("noop").mode("overwrite").save(); GraftBus.drain(sc) }
      finally sc.removeSparkListener(listener)
      bytes.get
    }
    assert(one.count() == 20000)
    // parquet's vectored reads on the local file system bypass the
    // Hadoop FS statistics that inputMetrics.bytesRead comes from (a
    // full scan of this ~1.1 MB file then reports ~65 KB), so measure
    // with the stream reader
    spark.conf.set("parquet.hadoop.vectored.io.enabled", "false")
    val (pruned, full) =
      try (inputBytes(one), inputBytes(sink))
      finally spark.conf.unset("parquet.hadoop.vectored.io.enabled")
    assert(pruned > 0 && pruned < full,
      s"a symbol read must skip row groups: $pruned bytes vs $full unfiltered")
  }

  /** The listener events `body` posts, in bus order. */
  private def events(body: => Unit): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { seen.add(e); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { seen.add(e); () }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = { seen.add(e); () }
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; GraftBus.drain(sc) } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("a micro-batch write starts no chmod process") {
    // the recording does see forks
    assert(Forks.programs { new ProcessBuilder("true").start().waitFor(); () }.contains("true"))
    val out = Files.createTempDirectory("graft_sink_forks").toString
    val started = Forks.programs(MinuteStream.writeBatch(bars(6, 7L), 0L, out))
    assert(!started.contains("chmod"), s"processes started: $started")
    assert(parquetFiles(s"$out/bars/batch_id=0").size == 1)
  }

  test("a trade-stream drain starts no chmod or readlink process") {
    val log = Files.createTempDirectory("graft_sink_forks_log")
    val m0 = 1735732800000L
    val lines = for (m <- 0 until 6; (s, i) <- Seq("AAPL", "MSFT").zipWithIndex)
      yield s"""{"data": [{"p": ${100.0 + m + i}, "s": "$s", "t": ${m0 + m * 60000L + 1000}, "v": 10.0}]}"""
    Files.write(log.resolve("trades.log"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft_sink_forks_out").toString
    val started = Forks.programs {
      val q = MinuteStream.start(
        Connectors.logStream(spark, log.toString).select(col("value")),
        Files.createTempDirectory("graft_sink_forks_ckpt").toString, out,
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
      assert(q.exception.isEmpty)
    }
    assert(started.filter(Set("chmod", "readlink")).isEmpty, s"processes started: $started")
    assert(SinkMaintenance.read(spark, s"$out/bars").count() > 0)
  }

  test("the sink's directories and files keep the stock file system's modes") {
    def modes(root: String): Map[Boolean, Set[String]] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.toSeq.groupBy(Files.isDirectory(_)).map { case (dir, ps) =>
        dir -> ps.map((p: Path) => PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toSet
      } finally walk.close()
    }
    val frame = bars(4, 8L)
    val out = Files.createTempDirectory("graft_sink_modes").toString
    MinuteStream.writeBatch(frame, 0L, out)
    // the same table through Hadoop's own local file system
    val stock = Files.createTempDirectory("graft_sink_modes_stock").toString
    frame.withColumn("batch_id", lit("0")).write.partitionBy("batch_id").parquet(s"$stock/bars")
    val expected = Map(true -> Set("rwxr-xr-x"), false -> Set("rw-r--r--"))
    assert(modes(s"$stock/bars") == expected)
    for (table <- Seq("bars", "metrics")) assert(modes(s"$out/$table") == expected, table)
  }

  test("both write jobs carry the caller's job group") {
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("graft_sink_group").toString
    sc.setJobGroup("g", "sink writes")
    val seen = try events(MinuteStream.writeBatch(bars(4, 9L), 0L, out)) finally sc.clearJobGroup()
    val groups = seen.collect { case e: SparkListenerJobStart => e.properties.getProperty("spark.jobGroup.id") }
    // the count() that fills the cache (with AQE's stage jobs), then the
    // bars and metrics writes
    assert(groups.size >= 3 && groups.forall(_ == "g"), s"job groups: $groups")
  }

  test("a failed metrics write fails the batch after the bars write ended, then unpersists") {
    val out = Files.createTempDirectory("graft_sink_fail").toString
    Files.write(Paths.get(out, "metrics"), Array[Byte](1)) // a file where a directory must go
    val frame = bars(6, 11L)
    var failure: Option[Exception] = None
    val seen = events {
      failure = Some(intercept[Exception](MinuteStream.writeBatch(frame, 5L, out)))
    }
    assert(failure.exists(e => Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("metrics"))), s"failure: $failure")
    assert(batchDirs(s"$out/bars") == Seq("batch_id=5"))
    assert(spark.read.parquet(s"$out/bars").count() == Symbols.size * 6)
    val ends = seen.zipWithIndex.collect { case (_: SparkListenerJobEnd, i) => i }
    val unpersist = seen.indexWhere(_.isInstanceOf[SparkListenerUnpersistRDD])
    assert(ends.size >= 2, "the count() and the bars write")
    assert(unpersist > ends.max, s"events: ${seen.map(_.getClass.getSimpleName)}")
    assert(spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty)
  }
}
