package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DerivedTables, Tables}

/** One rule for "has this table changed": the `Tables` catalog and
  * every derived artifact key on [[Tables.fingerprint]]. Each rewrite
  * below runs through the catalog (is the table resolved again?), the
  * fingerprint and a `DerivedTables.ensure` guard (is the artifact
  * rebuilt?), and all three must agree. */
class DerivedTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def relationOf(df: DataFrame): BaseRelation =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }.get

  private def partOf(dir: Path): Path = {
    val ls = Files.list(dir)
    try ls.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      .ensuring(_.size == 1).head
    finally ls.close()
  }

  /** A fresh dir holding `df` as the single-part directory table `t`. */
  private def stageDirTable(df: DataFrame): Path = {
    val dir = Files.createTempDirectory("graft_dt_src")
    df.coalesce(1).write.parquet(dir.resolve("t.parquet").toString)
    dir
  }

  private var guards = 0

  /** Whether `rewrite` of table `dir/t.parquet` made (the catalog
    * resolve it again, its fingerprint change, a derived table of it
    * rebuild). */
  private def observe(dir: Path)(rewrite: => Unit): (Boolean, Boolean, Boolean) = {
    guards += 1
    val derived = s"graft_dt_guard_$guards"
    var builds = 0
    def guard(): Unit =
      DerivedTables.ensure(spark, Seq(derived), Tables.fingerprint(spark, dir.toString, "t")) {
        builds += 1
        spark.range(1).write.mode("overwrite").format("parquet").saveAsTable(derived)
      }
    val rel = relationOf(Tables(spark, dir.toString, "t"))
    val fp = Tables.fingerprint(spark, dir.toString, "t")
    guard()
    assert(builds === 1)
    rewrite
    val out = (relationOf(Tables(spark, dir.toString, "t")) ne rel,
      Tables.fingerprint(spark, dir.toString, "t") != fp, { guard(); builds == 2 })
    spark.sql(s"DROP TABLE $derived")
    out
  }

  test("a single-file rewrite at the same path changes catalog, fingerprint and guard") {
    val dir = Files.createTempDirectory("graft_dt_file")
    val table = dir.resolve("t.parquet")
    Files.copy(partOf(stageDirTable(spark.range(4).toDF()).resolve("t.parquet")), table)
    val next = partOf(stageDirTable(spark.range(3).selectExpr("id AS k", "'x' AS v"))
      .resolve("t.parquet"))
    assert(observe(dir) {
      Files.copy(next, table, StandardCopyOption.REPLACE_EXISTING)
    } === ((true, true, true)))
  }

  test("an in-place part-file rewrite changes catalog, fingerprint and guard") {
    val dir = stageDirTable(spark.range(4).toDF())
    val table = dir.resolve("t.parquet")
    val next = partOf(stageDirTable(spark.range(10, 17).selectExpr("id", "id * 2 AS twice"))
      .resolve("t.parquet"))
    val dirMtime = Files.getLastModifiedTime(table)
    assert(observe(dir) {
      // the part file and its checksum, through their existing
      // directory entries: the directory's own mtime stays put, so
      // only a leaf listing sees the rewrite
      val part = partOf(table)
      Files.write(part, Files.readAllBytes(next))
      Files.write(part.resolveSibling(s".${part.getFileName}.crc"),
        Files.readAllBytes(next.resolveSibling(s".${next.getFileName}.crc")))
      assert(Files.getLastModifiedTime(table) === dirMtime)
    } === ((true, true, true)))
  }

  test("adding _SUCCESS or .crc files changes none of the three") {
    val dir = stageDirTable(spark.range(4).toDF())
    val table = dir.resolve("t.parquet")
    Files.delete(table.resolve("_SUCCESS"))
    assert(observe(dir) {
      Files.write(table.resolve("_SUCCESS"), Array.emptyByteArray)
      Files.write(table.resolve(".extra.crc"), "crc".getBytes)
    } === ((false, false, false)))
  }

  test("a file: URI and the bare path have the same fingerprint") {
    val dir = stageDirTable(spark.range(4).toDF())
    assert(Tables.fingerprint(spark, s"file:$dir", "t") ===
      Tables.fingerprint(spark, dir.toString, "t"))
    val file = partOf(dir.resolve("t.parquet"))
    assert(Tables.fingerprint(spark, s"file:$file") === Tables.fingerprint(spark, file.toString))
  }

  test("fingerprinting a missing path fails loudly") {
    val dir = Files.createTempDirectory("graft_dt_missing").toString
    val e = intercept[java.io.FileNotFoundException](Tables.fingerprint(spark, dir, "region"))
    assert(e.getMessage.contains(s"$dir/region.parquet"))
  }

  test("a product guard over a file: SF dir builds once, then is a no-op") {
    val local = Files.createTempDirectory("graft_dt_sf")
    Files.copy(Paths.get(getClass.getResource("/fixtures/events_ts_micros.parquet").toURI),
      local.resolve("events.parquet"))
    val dir = s"file:$local"
    val name = "graft_events_bydate_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    def created = spark.sessionState.catalog.getTableMetadata(TableIdentifier(name)).createTime
    val first = Queries.ensureEventsByDate(spark, dir).count()
    val built = created
    val second = Queries.ensureEventsByDate(spark, dir).count()
    assert(created === built)
    assert(second === first)
    assert(first === Tables.events(spark, dir).count())
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
      .properties.get("graft.fingerprint").contains(Tables.fingerprint(spark, dir, "events")))
    spark.sql(s"DROP TABLE $name")
  }
}
