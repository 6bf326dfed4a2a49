package graft

import scala.collection.mutable

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Bench tags every timed rep's jobs with the query that caused them
  * (`Bench.withJobGroup`): a listener sees the query name as the job
  * group and "<name> rep <r>" as the description, and the tag is gone
  * once the rep's body returns or throws. */
class BenchJobGroupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Distinct (group, description) pairs of the jobs `body` starts, in
    * order, "" when unset (AQE may split one action into several jobs). */
  private def jobTags(body: => Unit): Seq[(String, String)] = {
    val sc = spark.sparkContext
    val seen = mutable.ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        seen += prop("spark.jobGroup.id") -> prop("spark.job.description")
      }
    }
    sc.addSparkListener(listener)
    try { body; GraftBus.drain(sc) } finally sc.removeSparkListener(listener)
    seen.synchronized(seen.toSeq.distinct)
  }

  test("jobs inside the body carry the query name; the group is cleared after") {
    val tags = jobTags {
      val n = Bench.withJobGroup(spark.sparkContext, "q99_tagged", 2) {
        spark.range(10).count()
      }
      assert(n === 10L)
      spark.range(5).count()
    }
    assert(tags === Seq("q99_tagged" -> "q99_tagged rep 2", "" -> ""))
  }

  test("the group is cleared also when the body throws") {
    val tags = jobTags {
      intercept[IllegalStateException] {
        Bench.withJobGroup(spark.sparkContext, "q98_fails", 1) {
          spark.range(3).count()
          throw new IllegalStateException("boom")
        }
      }
      spark.range(5).count()
    }
    assert(tags === Seq("q98_fails" -> "q98_fails rep 1", "" -> ""))
  }
}
