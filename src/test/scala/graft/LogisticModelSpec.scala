package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextOps
import graft.operators.TextAnalysis
import graft.streaming.CorpusStream

/** The persisted logistic-model family contract (round 18): training
  * stays the oracle-checked t45/t46/p15 twins' job; production scoring
  * consumes a SAVED model. Locks:
  *   - the per-row exact-decimal scorer (streaming admission / CLI
  *     classify) equals the batch broadcast-join scorer bit-for-bit;
  *   - save/load round-trips the model exactly (row-identical scores);
  *   - ensureLogisticModel is build-once with staleness + param-drift
  *     rebuilds (the ensureIvfIndex discipline);
  *   - streaming admission under the trained gate lands EXACTLY the
  *     docs batch logisticApply keeps;
  *   - the EdgeRunner train -> classify CLI path scores from the
  *     persisted model, with an actionable error when it's missing. */
class LogisticModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def teacher =
    graft.plans.TextHash.classifierScore(TextOps.tokens(col("text"))) > 0L
  // 2 rounds keeps the spec fast; the hyper-params only need to be
  // consistent within the suite, not match the bench family
  private lazy val model = TextAnalysis.logisticTrain(
    docs, "doc_id", "text", teacher, nBuckets = 4096, rounds = 2)

  test("per-row trained score equals the batch broadcast-join scorer, value and sign") {
    val batch = TextAnalysis.logisticScoreDecimal(docs, "doc_id", "text", model)
    val perRow = docs.select(col("doc_id"),
      TextAnalysis.trainedScoreDecimal(col("text"), model).as("pr"))
    val joined = batch.join(perRow, Seq("doc_id"))
    val n = joined.count()
    assert(n == docs.count(), s"every doc must score on both paths: $n")
    val mismatched = joined.filter(col("swd") =!= col("pr")).count()
    assert(mismatched == 0,
      s"$mismatched docs scored differently per-row vs batch")
    // the corpus must exercise BOTH gate outcomes or the equivalence
    // test is vacuous on the admission side
    val kept = joined.filter(col("pr") > lit(java.math.BigDecimal.ZERO)).count()
    assert(kept > 0 && kept < n, s"gate must split the corpus: $kept/$n")
  }

  test("save/load round-trips the model exactly; loaded model scores row-identical") {
    TextAnalysis.saveLogisticModel(spark, "lrspec_rt", model)
    val loaded = TextAnalysis.loadLogisticModel(spark, "lrspec_rt")
    assert(loaded == model,
      "6dp weights must survive parquet doubles bit-exactly")
    val a = TextAnalysis.logisticApply(docs, "doc_id", "text", teacher, model)
    val b = TextAnalysis.logisticApply(docs, "doc_id", "text", teacher, loaded)
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "persisted-model scores must be row-identical to in-memory")
  }

  test("ensure is build-once; staleness and param drift each retrain") {
    import graft.sources.Tables
    val fp1 = Tables.fingerprint(spark, sf, "documents")
    var builds = 0
    def corpus = { builds += 1; docs }
    def ensure(rounds: Int, fp: String) =
      TextAnalysis.ensureLogisticModel(spark, "lrspec_ens", corpus,
        "doc_id", "text", teacher, nBuckets = 4096, rounds = rounds,
        fingerprint = Some(fp))
    val m1 = ensure(2, fp1)
    assert(builds == 1, "first ensure must train")
    val m2 = ensure(2, fp1)
    assert(builds == 1, "fresh hit must NOT re-evaluate the corpus")
    assert(m2 == m1)
    // source data changed (fingerprint moved) -> retrain
    ensure(2, "n9-sz9-mt9-x9")
    assert(builds == 2, "a stale fingerprint must retrain")
    // hyper-parameter drift under a MATCHING fingerprint -> retrain
    val m4 = ensure(1, "n9-sz9-mt9-x9")
    assert(builds == 3, "param drift must retrain, never silently reuse")
    assert(m4.rounds == 1)
  }

  test("streaming admission under the trained gate lands exactly the batch-kept docs") {
    implicit val sqlCtx = spark.sqlContext
    // salt each text with its doc_id so fingerprints are DISTINCT:
    // isolates the gate from the dedup stage (batch and stream score
    // the same salted rows)
    val salted = docs.limit(40)
      .withColumn("text", concat(col("text"), lit(" u"), col("doc_id")))
      .select(col("doc_id"), col("text"), col("lang"),
        lit(java.sql.Timestamp.valueOf("2025-01-01 10:00:00")).as("ts"))
      .localCheckpoint(false)
    val expected = TextAnalysis.logisticApply(
        salted, "doc_id", "text", teacher, model)
      .filter(col("pred")).select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < 40,
      s"fixture must split on the gate: ${expected.size}/40")
    val lines = salted
      .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("ts")))).as[String].collect().toSeq
    val out = Files.createTempDirectory("lr_stream_out").toString
    val ckpt = Files.createTempDirectory("lr_stream_ckpt").toString
    val input = MemoryStream[String]
    val q = CorpusStream.startTrained(input.toDF(), out, ckpt, model,
      trigger = Trigger.ProcessingTime("0 seconds"))
    input.addData(lines)
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.schema(
        org.apache.spark.sql.types.StructType(CorpusStream.doc.fields :+
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.StringType)))
      .parquet(out).select("doc_id").as[Long].collect().toSet
    assert(landed == expected,
      s"streaming admission must equal batch pred: " +
        s"stream-only=${landed -- expected} batch-only=${expected -- landed}")
  }

  test("CLI train -> classify scores from the persisted model end-to-end") {
    import graft.tools.EdgeRunner
    val base = Files.createTempDirectory("lr_cli").toString
    val corpus = s"$base/corpus"
    docs.write.parquet(corpus)
    val n1 = EdgeRunner.runTrain(spark, EdgeRunner.parse(Array(
      "--mode", "train", "--in", s"file:$corpus", "--model", "lrspec_cli",
      "--rounds", "2")))
    assert(n1 > 0, "training must land weight rows")
    // idempotent: unchanged corpus -> catalog hit, same model
    val n2 = EdgeRunner.runTrain(spark, EdgeRunner.parse(Array(
      "--mode", "train", "--in", s"file:$corpus", "--model", "lrspec_cli",
      "--rounds", "2")))
    assert(n2 == n1)
    val outDir = s"$base/scored"
    EdgeRunner.runClassify(spark, EdgeRunner.parse(Array(
      "--mode", "classify", "--in", s"file:$corpus",
      "--model", "lrspec_cli", "--out", outDir)))
    val persisted = TextAnalysis.loadLogisticModel(spark, "lrspec_cli")
    val expected = TextAnalysis.logisticApply(
        docs, "doc_id", "text", teacher, persisted)
      .filter(col("pred")).select("doc_id").as[Long].collect().toSet
    val scored = spark.read.parquet(s"$outDir/classified")
    // `keep` is the partition column: read back as a string ("true" /
    // "false" — parquet partition inference has no boolean rule)
    val kept = scored.filter(col("keep").cast("boolean"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expected, "CLI keep set must match the persisted model's sign gate")
    // partitioned by keep for downstream branch reads
    assert(new java.io.File(s"$outDir/classified/keep=true").exists())
    // a missing model family fails with the bootstrap command, not a
    // bare table-not-found
    val e = intercept[RuntimeException] {
      EdgeRunner.runClassify(spark, EdgeRunner.parse(Array(
        "--mode", "classify", "--in", s"file:$corpus",
        "--model", "lrspec_nosuch", "--out", s"$base/x")))
    }
    assert(e.getMessage.contains("--mode train"),
      s"error must point at the bootstrap: ${e.getMessage}")
  }

  test("status dashboard reports the model family") {
    import graft.tools.EdgeRunner
    TextAnalysis.saveLogisticModel(spark, "lrspec_dash", model)
    val mf = Files.createTempFile("lr_manifest", ".txt")
    java.nio.file.Files.write(mf,
      "model: name=lrspec_dash\nmodel: name=lrspec_gone\n".getBytes("UTF-8"))
    val rows = EdgeRunner.runStatus(spark, EdgeRunner.parse(Array(
      "--mode", "status", "--in", "unused:", "--manifest", mf.toString)))
    val ok = rows.find(_._1 == "model:lrspec_dash").get._3
    assert(ok.startsWith("OK (") && ok.contains("4096 buckets")
      && ok.contains("2 rounds"), ok)
    // a dropped/absent family surfaces as an error row, not an abort
    val gone = rows.find(_._1 == "model:lrspec_gone").get._3
    assert(gone.startsWith("error:"), gone)
  }
}
