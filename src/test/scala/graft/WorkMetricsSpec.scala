package graft

import org.apache.spark.GraftBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bench work-metrics contract (round 17): wall-clock wobbles with
  * the host, bytes and plans don't — so the per-query work record
  * (shuffle/spill/input bytes, tasks, sink rows) and the normalized
  * plan fingerprint must be DETERMINISTIC for fixed code + data, and
  * the fingerprint must move when the plan does. These are the
  * properties tools/bench_diff.py's noise adjudication rests on. */
class WorkMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Run df to the noop sink and capture (rows, fingerprint) off the
    * completed execution's AQE-final plan — the Bench rep-1 path,
    * through the SAME shared capture helper Bench/PlanDump use. */
  private def capture(df: DataFrame): (Long, String) = {
    val holder = new Bench.ExecutionCapture(spark)
    try {
      df.write.format("noop").mode("overwrite").save()
      GraftBus.drain(spark.sparkContext)
      val p = holder.get().executedPlan
      (Bench.firstOutputRows(p), Bench.planFingerprint(p.toString))
    } finally holder.unregister() // shared session — never leak listeners
  }

  test("fingerprint is run-stable for the same plan, distinct across plans; sink rows exact") {
    def agg = spark.range(1000)
      .groupBy(expr("id % 7").as("k")).agg(sum("id").as("s"))
    val (r1, f1) = capture(agg)
    val (r2, f2) = capture(agg)
    assert(r1 == 7L && r2 == 7L, s"sink rows must be the 7 groups: $r1/$r2")
    assert(f1 == f2 && f1.length == 16,
      s"same plan must fingerprint identically across runs: $f1 vs $f2")
    // a genuinely different plan (join added) must move the fingerprint
    val dim = spark.range(7).select(col("id").as("k"), lit("x").as("tag"))
    val (_, f3) = capture(agg.join(broadcast(dim), "k"))
    assert(f3 != f1, "plan change must move the fingerprint")
  }

  test("normalizePlan strips exprIds, plan/exchange ids, locations, and the AQE initial-plan tail") {
    val a = """*(1) Project [k#123L, s#45]
              |+- Exchange hashpartitioning(k#123L, 4), [plan_id=77]
              |   +- FileScan parquet [k#123L] Location: InMemoryFileIndex(1 paths)[file:/tmp/runA/t.parquet]
              |   +- ReusedExchange [id=#12]
              |== Initial Plan ==
              |SortMergeJoin""".stripMargin
    val b = """*(1) Project [k#900L, s#7]
              |+- Exchange hashpartitioning(k#900L, 4), [plan_id=3]
              |   +- FileScan parquet [k#900L] Location: InMemoryFileIndex(1 paths)[file:/tmp/runB/t.parquet]
              |   +- ReusedExchange [id=#99]
              |== Initial Plan ==
              |BroadcastHashJoin""".stripMargin
    assert(Bench.normalizePlan(a) == Bench.normalizePlan(b),
      s"run-varying tokens must normalize away:\n${Bench.normalizePlan(a)}\n--\n${Bench.normalizePlan(b)}")
    assert(!Bench.normalizePlan(a).contains("Initial Plan"),
      "the pre-AQE shape must not leak into the fingerprint")
    // node changes survive normalization
    val c = a.replace("Project", "Filter")
    assert(Bench.normalizePlan(c) != Bench.normalizePlan(a))
  }

  test("join key lists normalize as PAIRS: permuted pairings converge, different pairings stay distinct") {
    // same pairing, hash-permuted order -> one fingerprint
    val p1 = "SortMergeJoin [b#1L, a#2L], [d#3L, c#4L], Inner"
    val p2 = "SortMergeJoin [a#2L, b#1L], [c#4L, d#3L], Inner"
    assert(Bench.normalizePlan(p1) == Bench.normalizePlan(p2),
      s"permuted same-pairing keys must normalize identically:\n" +
        s"${Bench.normalizePlan(p1)}\n--\n${Bench.normalizePlan(p2)}")
    // a=d/b=c is a DIFFERENT join than a=c/b=d — must not conflate
    val p3 = "SortMergeJoin [a#2L, b#1L], [d#3L, c#4L], Inner"
    assert(Bench.normalizePlan(p1) != Bench.normalizePlan(p3),
      "cross-pairing must move the fingerprint")
    // no-bracket join lines and non-join lines pass through the
    // fallback path unchanged in content
    val nl = "BroadcastNestedLoopJoin BuildRight, Inner"
    assert(Bench.normalizePlan(nl).contains("BroadcastNestedLoopJoin"))
  }

  test("WorkListener aggregates exactly the drained window's tasks") {
    val wl = new Bench.WorkListener
    spark.sparkContext.addSparkListener(wl)
    try {
      GraftBus.drain(spark.sparkContext); wl.reset()
      spark.range(100000).repartition(4)
        .groupBy(expr("id % 5").as("k")).count()
        .write.format("noop").mode("overwrite").save()
      GraftBus.drain(spark.sparkContext)
      val w = wl.snapshot(rows = 5L, fp = "feedface00000000")
      assert(w.tasks > 0, "tasks must be counted")
      assert(w.sw > 0 && w.sr > 0,
        s"a repartition+agg must read and write shuffle bytes: $w")
      assert(w.peak > 0, s"peak execution memory must be observed: $w")
      // reset clears the window: a snapshot with no jobs in between is 0
      GraftBus.drain(spark.sparkContext); wl.reset()
      val empty = wl.snapshot(rows = -1L, fp = "")
      assert(empty.tasks == 0 && empty.sr == 0 && empty.sw == 0, empty.toString)
    } finally spark.sparkContext.removeSparkListener(wl)
  }
}
