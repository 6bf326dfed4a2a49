package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The per-session table catalog behind `Tables`: a table is resolved
  * (listed, schema job) once per session; later calls start no Spark
  * job, yet every call gets its own relation instance with fresh
  * attribute ids, a changed file is resolved again, and a relation is
  * never served to another session. */
class TableCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A fresh dir holding the committed micros fixture as `events.parquet`. */
  private def stageEvents(): String = {
    val dir = Files.createTempDirectory("graft_catalog")
    Files.copy(Paths.get(getClass.getResource("/fixtures/events_ts_micros.parquet").toURI),
      dir.resolve("events.parquet"))
    dir.toString
  }

  /** `df` written as a single-part parquet directory; returns its part file. */
  private def writeOnePart(df: DataFrame): Path = {
    val out = Files.createTempDirectory("graft_catalog_src").resolve("t.parquet")
    df.coalesce(1).write.parquet(out.toString)
    partOf(out)
  }

  private def partOf(dir: Path): Path = {
    val ls = Files.list(dir)
    try ls.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      .ensuring(_.size == 1).head
    finally ls.close()
  }

  /** Spark jobs `body` starts, counted by a job group of its own. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"catalog-spec-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      GraftBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  test("after the first resolve, Tables calls start no Spark job") {
    val dir = stageEvents()
    // the first resolve pays the schema job — this also shows the
    // listener sees the jobs the calls start
    assert(jobsStartedBy(Tables(spark, dir, "events")) >= 1)
    assert(jobsStartedBy {
      (1 to 3).foreach(_ => Tables(spark, dir, "events"))
      Tables.events(spark, dir)
      Tables.fanned(spark, dir, "events")
    } === 0)
  }

  test("rewriting the table file at the same path resolves the new rows and schema") {
    val dir = stageEvents()
    assert(Tables(spark, dir, "events").count() === 4)
    val next = writeOnePart(spark.range(3).selectExpr("id AS k", "'x' AS v"))
    Files.copy(next, Paths.get(dir, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val df = Tables(spark, dir, "events")
    assert(df.columns.toSeq === Seq("k", "v"))
    assert(df.count() === 3)
  }

  test("a part file rewritten in place re-resolves a directory table") {
    val dir = Files.createTempDirectory("graft_catalog_dir")
    val table = dir.resolve("t.parquet")
    spark.range(4).coalesce(1).write.parquet(table.toString)
    assert(Tables(spark, dir.toString, "t").count() === 4)
    // other rows and a new column: overwrite the part file and its
    // checksum through their existing directory entries, so the
    // directory's own mtime stays put
    val next = writeOnePart(spark.range(10, 17).selectExpr("id", "id * 2 AS twice"))
    val part = partOf(table)
    val crc = part.resolveSibling(s".${part.getFileName}.crc")
    val dirMtime = Files.getLastModifiedTime(table)
    Files.write(part, Files.readAllBytes(next))
    Files.write(crc, Files.readAllBytes(next.resolveSibling(s".${next.getFileName}.crc")))
    assert(Files.getLastModifiedTime(table) === dirMtime)
    val df = Tables(spark, dir.toString, "t")
    assert(df.columns.toSeq === Seq("id", "twice"))
    assert(df.count() === 7)
    assert(df.agg(org.apache.spark.sql.functions.min("id")).head().getLong(0) === 10L)
  }

  test("two calls get disjoint attribute ids and self-join like two plain reads") {
    val dir = stageEvents()
    val a = Tables.events(spark, dir)
    val b = Tables.events(spark, dir)
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    val got = a.join(b, a("user_id") === b("user_id"))
      .select(a("event_id"), b("event_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    // the reader before the catalog: two independent parquet reads
    val path = s"$dir/events.parquet"
    val (pa, pb) = (spark.read.parquet(path), spark.read.parquet(path))
    val want = pa.join(pb, pa("user_id") === pb("user_id"))
      .select(pa("event_id"), pb("event_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 6) // user 10 twice (2x2) + users 20, 30
    assert(got.sorted.toSeq === want.sorted.toSeq)
  }

  test("a new session resolves its own relation, bound to that session") {
    val dir = stageEvents()
    val child: SparkSession = spark.newSession()
    val parentRel = relationOf(Tables(spark, dir, "events"))
    val childRel = relationOf(Tables(child, dir, "events"))
    assert(parentRel.sparkSession eq spark)
    assert(childRel.sparkSession eq child)
    assert(relationOf(Tables(child, dir, "events")) eq childRel)
    assert(relationOf(Tables(spark, dir, "events")) eq parentRel)
  }

  test("a missing table still fails loudly") {
    val dir = Files.createTempDirectory("graft_catalog_missing").toString
    val e = intercept[java.io.FileNotFoundException](Tables(spark, dir, "region"))
    assert(e.getMessage.contains(s"$dir/region.parquet"))
  }
}
