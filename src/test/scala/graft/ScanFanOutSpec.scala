package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.operators.TextAnalysis
import graft.functions.TextOps

/** Round-18 optimization locks.
  *
  * 1. Scan fan-out (`Tables.fanned`): the driver testdata files are
  *    single-row-group parquet (ONE effective scan task regardless of
  *    split config), so explode/trainer-heavy consumers opt into a
  *    keyed repartition. Locks: row identity with the plain reader at
  *    a fanned SF; the ≥256 KB floor keeps sf0.001 (and with it every
  *    plan-lock spec) on the untouched plain scan.
  *
  * 2. The LR loop's long-scaled sums + shuffled-hash gradient join
  *    (TextAnalysis.logisticTrainLoop): frame-based apply/score
  *    variants must equal their re-derive-from-docs twins row for row
  *    — the bit-exactness the unrolled DuckDB oracle enforces at the
  *    driver SFs, locked here at spec speed.
  */
class ScanFanOutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf01 = "/root/testdata/sf0.01"
  private val sf0 = "/root/testdata/sf0.001"

  /** The auto rule (rowGroups < max(par/2, 1)) can only fire on a
    * 1-row-group file when defaultParallelism ≥ 4 — on a 1-2 core box
    * fan-out correctly stays off, so the fires-here assertions are
    * vacuous there. `assume` keeps the spec environment-independent. */
  private def assumeFanOutCanFire(): Unit =
    org.scalatest.Assertions.assume(
      spark.sparkContext.defaultParallelism >= 4,
      "fan-out auto rule needs >= 4 cores to fire on a 1-RG file")

  test("fanned == plain, row for row (lineitem at sf0.01, where the rule fires)") {
    assumeFanOutCanFire()
    val plain = Tables.lineitem(spark, sf01)
    val fanned = Tables.lineitemFanned(spark, sf01)
    // the rule must actually fire at this size (1.1 MB single-RG file)
    assert(fanned.rdd.getNumPartitions > plain.rdd.getNumPartitions,
      "fan-out should raise partition count on a >256KB single-row-group file")
    assert(fanned.exceptAll(plain).isEmpty && plain.exceptAll(fanned).isEmpty)
  }

  test("sf0.001 files stay on the plain scan (256 KB floor) — plan-lock SF unchanged") {
    val fanned = Tables.documentsFanned(spark, sf0)
    assert(!fanned.queryExecution.executedPlan.toString.contains("Exchange"),
      "sub-floor files must not gain an Exchange")
  }

  test("fan-out partition count is row-aware (≤ rows/150), keys balance") {
    assumeFanOutCanFire()
    val fanned = Tables.lineitemFanned(spark, sf01)
    val n = fanned.rdd.getNumPartitions
    assert(n >= 2 && n <= spark.sparkContext.defaultParallelism)
    // keyed repartition balance: no partition holds > 3x the mean
    val sizes = fanned.groupBy(spark_partition_id()).count()
      .collect().map(_.getLong(1))
    val mean = sizes.sum.toDouble / sizes.length
    assert(sizes.max <= 3 * mean, s"skewed fan-out: ${sizes.mkString(",")}")
  }

  test("logisticApplyFrames over materialized frames == logisticApply from docs") {
    val docs = spark.read.parquet(s"$sf0/documents.parquet")
    val teacher =
      graft.plans.TextHash.classifierScore(TextOps.tokens(col("text"))) > 0L
    val model = TextAnalysis.logisticTrain(docs, "doc_id", "text", teacher,
      nBuckets = 512, rounds = 2)
    val direct = TextAnalysis.logisticApply(docs, "doc_id", "text", teacher,
      model).orderBy("doc_id").collect()
    val (meta, feats) = TextAnalysis.logisticFrames(docs, "doc_id", "text",
      teacher, 512, materialize = true)
    val framed = TextAnalysis.logisticApplyFrames(meta, feats, model)
      .orderBy("doc_id").collect()
    assert(direct.sameElements(framed))
  }

  test("frame-based decimal score == re-derived decimal score (t48's reuse)") {
    val docs = spark.read.parquet(s"$sf0/documents.parquet")
    val teacher =
      graft.plans.TextHash.classifierScore(TextOps.tokens(col("text"))) > 0L
    val model = TextAnalysis.logisticTrain(docs, "doc_id", "text", teacher,
      nBuckets = 512, rounds = 2)
    val direct = TextAnalysis.logisticScoreDecimal(docs, "doc_id", "text",
      model).orderBy("doc_id").collect()
    val (_, feats) = TextAnalysis.logisticFrames(docs, "doc_id", "text",
      teacher, 512, materialize = true)
    val framed = TextAnalysis.logisticScoreDecimalFrames(feats, model)
      .orderBy("doc_id").collect()
    assert(direct.sameElements(framed))
  }

  test("training loop's long-scaled sums: trained weights are exact 6dp decimals") {
    val docs = spark.read.parquet(s"$sf0/documents.parquet")
    val teacher =
      graft.plans.TextHash.classifierScore(TextOps.tokens(col("text"))) > 0L
    val model = TextAnalysis.logisticTrain(docs, "doc_id", "text", teacher,
      nBuckets = 512, rounds = 2)
    // every weight must sit exactly on the 6dp grid (the dsumL
    // exactness envelope's precondition for all downstream sums)
    model.weights.values.foreach { w =>
      val scaled = w * 1e6
      assert(math.abs(scaled - math.rint(scaled)) < 1e-6,
        s"weight $w is not an exact 6dp decimal")
    }
    assert(model.weights.nonEmpty && model.rounds == 2)
  }
}
