package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Locks the bench artifact contract without running a bench.
  *
  * One [[Bench.Record]] per run, rendered by [[Json]]: it goes on one
  * line to BENCH_LAST.json / SPARK_GRAFT_BENCH_OUT, where
  * tools/bench_diff.py, tools/scale_ratio.py and [[Bench.priorMedians]]
  * read it. Stdout carries only its [[Bench.Summary]]: a caller that
  * keeps a 2000-char stdout tail must still get the whole line, so it
  * stays ≤ 1900 bytes for the full query surface. Seconds carry 4 decimals with a '.' separator
  * whatever the default locale.
  *
  * NOISE-EVIDENCE contract (round 15): calibration carries pre/MID/post
  * samples, `reran` names queries the 3x-outlier rule re-ran, and the
  * record carries the sorted per-rep `spread` per query — the artifact
  * alone distinguishes "box was busy" (spread max spikes, median
  * stable, calibration asymmetric) from "plan regressed" (whole spread
  * vector moves).
  */
class BenchFormatSpec extends AnyFunSuite {
  private def cal(pre: Double, mid: Double, post: Double,
                  sortPre: Double = -1.0, sortPost: Double = -1.0) =
    Bench.Calibration(Json.round4(pre), Json.round4(mid), Json.round4(post),
      Json.round4(sortPre), Json.round4(sortPost))

  private val rec = Bench.record(
    results = Seq("q01" -> 1.23456789, "q02" -> 0.5),
    failed = Seq("q99"),
    reps = 3, sfDir = "/data/sf0.1",
    calibration = cal(0.31, 0.33, 0.42), wallEndMs = 1755120000000L,
    skipped = Seq("q68", "q05"),
    reran = Seq("q02"))
  private val line = Json.write(rec)
  private val node = Json.mapper.readTree(line)

  private def keys(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    n.fieldNames().asScala.toSeq

  private val recordKeys = Seq("metric", "value", "unit", "reps",
    "estimator", "sf", "queries", "spread", "fp_version", "work", "failed",
    "skipped", "reran", "calibration", "total_sec", "wall_end_ms")

  test("stdout summary: contract fields only, <= 1900 bytes for all queries") {
    // worst case for the old per-query stdout line: every real query
    // name timed, failed AND reran
    val names = SparkEntry.queries.keys.toSeq
    val all = Bench.record(names.map(_ -> 12.3456), names, 3,
      "/data/sf0.1", cal(0.1, 0.1, 0.1, 3.0, 3.0), 1L,
      reran = names, spread = names.map(_ -> Seq(1.0, 2.0, 3.0)))
    val summary = Json.write(Bench.summary(all, cpus = 32))
    assert(summary.getBytes("UTF-8").length <= 1900, summary)
    val s = Json.mapper.readTree(summary)
    assert(keys(s) == Seq("metric", "value", "unit", "sf", "cpus",
      "n_queries", "failed_n", "reran_n", "total_sec"), summary)
    assert(s.get("n_queries").asInt == names.size && names.size >= 205)
    assert(s.get("failed_n").asInt == names.size)
    assert(s.get("reran_n").asInt == names.size)
    assert(s.get("cpus").asInt == 32)
    val small = Json.mapper.readTree(Json.write(Bench.summary(rec, cpus = 4)))
    assert(small.get("metric").asText == "total" && small.get("unit").asText == "sec")
    assert(small.get("sf").asText == "/data/sf0.1")
    assert(small.get("value").asDouble == 1.7346)
    assert(small.get("total_sec").asDouble == 1.7346)
    assert(small.get("n_queries").asInt == 2 && small.get("failed_n").asInt == 1 &&
      small.get("reran_n").asInt == 1)
  }

  test("emits one parseable JSON object") {
    assert(node.isObject && !line.contains("\n"))
    assert(keys(node) == recordKeys, line)
    // all seconds 4-decimal with a '.' separator, never a locale comma
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val de = Json.write(rec)
      assert(de == line)
      assert(de.contains("\"queries\":{\"q01\":1.2346,\"q02\":0.5000}"), de)
    } finally java.util.Locale.setDefault(saved)
  }

  test("value equals the sum of per-query medians and failed list is verbatim") {
    assert(line.contains("\"value\":1.7346"))
    assert(line.contains("\"total_sec\":1.7346"))
    assert(line.contains("\"failed\":[\"q99\"]"))
    // skipped list is sorted so the artifact is diffable run-to-run
    assert(line.contains("\"skipped\":[\"q05\",\"q68\"]"))
    assert(line.contains("\"reran\":[\"q02\"]"))
    assert(node.get("reps").asInt == 3)
    // the estimator switch (reran queries carry reps+1 samples) is
    // self-described so round-over-round comparisons know the two
    // estimators differ by design
    assert(node.get("estimator").asText == "lower-median; reran carry reps+1 samples")
    assert(node.get("sf").asText == "/data/sf0.1")
    assert(node.get("wall_end_ms").asLong == 1755120000000L)
    assert(node.get("fp_version").asInt == Bench.FpVersion)
  }

  test("calibration carries the pre/mid/post triple plus the sort axis") {
    assert(line.contains(
      """"calibration":{"pre":0.3100,"mid":0.3300,"post":0.4200,""" +
        """"sort_pre":-1.0000,"sort_post":-1.0000}"""), line)
  }

  test("the stdout line omits spread; the file variant carries sorted per-rep vectors after queries") {
    val full = Json.write(Bench.record(
      results = Seq("q01" -> 0.6),
      failed = Nil, reps = 3, sfDir = "/x",
      calibration = cal(0.1, 0.1, 0.1), wallEndMs = 1L,
      spread = Seq("q01" -> Seq(0.5, 0.6, 4.2))))
    assert(full.contains(""""spread":{"q01":[0.5000,0.6000,4.2000]}"""), full)
    assert(full.indexOf("\"queries\"") < full.indexOf("\"spread\"") &&
      full.indexOf("\"spread\"") < full.indexOf("\"failed\""), full)
    assert(!Json.write(Bench.summary(rec, 4)).contains("\"spread\""))
  }

  test("the stdout line omits work; the file variant carries per-query work records between spread and failed") {
    val full = Json.write(Bench.record(
      results = Seq("q01" -> 0.6),
      failed = Nil, reps = 3, sfDir = "/x",
      calibration = cal(0.1, 0.1, 0.1), wallEndMs = 1L,
      spread = Seq("q01" -> Seq(0.5, 0.6, 4.2)),
      work = Seq("q01" -> Bench.WorkRec(sr = 1024L, sw = 2048L, spill = 0L,
        peak = 4096L, tasks = 12L, in = 65536L, rows = 42L,
        fp = "00deadbeef15dead"))))
    assert(full.contains(
      """"work":{"q01":{"sr":1024,"sw":2048,"spill":0,"peak":4096,""" +
        """"tasks":12,"in":65536,"rows":42,"fp":"00deadbeef15dead"}}"""),
      full)
    val order = Seq("\"queries\"", "\"spread\"", "\"work\"", "\"failed\"",
      "\"calibration\"").map(full.indexOf)
    assert(order.forall(_ >= 0) && order == order.sorted, full)
    assert(!Json.write(Bench.summary(rec, 4)).contains("\"work\""))
  }

  test("priorMedians reads a trailing line's queries dict; absent, malformed, or other-SF disables the rule") {
    val tmp = java.nio.file.Files.createTempFile("bench_last", ".json")
    try {
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      val prior = Bench.priorMedians(tmp.toString, "/data/sf0.1")
      assert(prior == Map("q01" -> 1.2346, "q02" -> 0.5))
      // a trailing line from a DIFFERENT SF must not feed the 3x rule:
      // every sf0.1 query is >3x its sf0.001 twin by construction
      assert(Bench.priorMedians(tmp.toString, "/data/sf0.001").isEmpty)
      java.nio.file.Files.write(tmp, "not json at all".getBytes("UTF-8"))
      assert(Bench.priorMedians(tmp.toString, "/data/sf0.1").isEmpty)
      assert(Bench.priorMedians("/nonexistent/bench.json", "/data/sf0.1").isEmpty)
    } finally java.nio.file.Files.deleteIfExists(tmp)
    // the committed record, written before the shared writer existed
    val committed = new java.io.File("BENCH_LAST.json")
    assert(committed.isFile, "the committed BENCH_LAST.json must be readable")
    val old = Json.mapper.readTree(committed)
    val oldPrior = Bench.priorMedians(committed.getPath, old.get("sf").asText)
    assert(oldPrior.size == old.get("queries").size && oldPrior.nonEmpty)
    assert(oldPrior.forall { case (k, v) => old.get("queries").get(k).asDouble == v })
  }

  test("empty surface still renders a valid line") {
    val empty = Json.mapper.readTree(Json.write(Bench.record(Nil, Nil, 1, "/x",
      cal(0.1, 0.1, 0.1), 0L)))
    assert(keys(empty) == recordKeys)
    for (k <- Seq("queries", "spread", "work"))
      assert(empty.get(k).isObject && empty.get(k).isEmpty, k)
    for (k <- Seq("failed", "skipped", "reran"))
      assert(empty.get(k).isArray && empty.get(k).isEmpty, k)
    assert(empty.get("value").asDouble == 0.0)
  }
}
