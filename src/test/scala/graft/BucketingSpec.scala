package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Bucketing, DerivedTables, Tables}

class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("DerivedTables detects in-place source regeneration and rebuilds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dt").toString
    val src = new java.io.File(dir, "tbl.parquet")
    java.nio.file.Files.write(src.toPath, "v1-bytes".getBytes)
    val fp1 = Tables.fingerprint(spark, dir, "tbl")
    var builds = 0
    def build(): Unit = {
      builds += 1
      Seq((1, "a")).toDF("k", "v").write.mode("overwrite")
        .format("parquet").saveAsTable("graft_dt_spec")
    }
    DerivedTables.ensure(spark, Seq("graft_dt_spec"), fp1) { build() }
    DerivedTables.ensure(spark, Seq("graft_dt_spec"), fp1) { build() }
    assert(builds == 1, "unchanged source must not rebuild")
    // regenerate the source IN PLACE (same path, different content):
    // the round-6 failure mode — a path-keyed cache would serve stale
    java.nio.file.Files.write(src.toPath, "v2-bytes-longer".getBytes)
    val fp2 = Tables.fingerprint(spark, dir, "tbl")
    assert(fp2 != fp1, "fingerprint must change with the data")
    DerivedTables.ensure(spark, Seq("graft_dt_spec"), fp2) { build() }
    assert(builds == 2, "changed source must rebuild")
    DerivedTables.ensure(spark, Seq("graft_dt_spec"), fp2) { build() }
    assert(builds == 2)
    // a table that predates fingerprinting (no stamp) reads as stale
    spark.sql("ALTER TABLE graft_dt_spec UNSET TBLPROPERTIES ('graft.fingerprint')")
    DerivedTables.ensure(spark, Seq("graft_dt_spec"), fp2) { build() }
    assert(builds == 3, "unstamped table must rebuild once, then be stamped")
    spark.sql("DROP TABLE IF EXISTS graft_dt_spec")
  }

  test("bucketed join runs with zero shuffle exchanges") {
    val sf = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
        .withColumnRenamed("l_orderkey", "orderkey"),
      "li_bucketed", "orderkey", 4, SaveMode.Overwrite)
    Bucketing.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
        .withColumnRenamed("o_orderkey", "orderkey"),
      "o_bucketed", "orderkey", 4, SaveMode.Overwrite)
    val joined = Bucketing.bucketedJoin(spark, "li_bucketed", "o_bucketed", "orderkey")
    val exchanges = joined.queryExecution.executedPlan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty,
      s"expected no shuffle, plan had: ${exchanges.map(_.nodeName)}")
    // and the join is still correct
    assert(joined.count() == Tables.lineitem(spark, sf).count())
  }
}
