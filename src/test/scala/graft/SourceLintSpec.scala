package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level invariants that no behavioural spec can see, read
  * straight from `src/main` and `src/test`:
  *
  *   - the session is configured in one place: the SparkSession builder
  *     is called only from GraftSession.scala;
  *   - no catch clause in `src/main` catches Throwable (failures on a
  *     timing or result path are `NonFatal`, so fatal errors stay loud);
  *   - star-schema tables are read through `graft.sources.Tables`, so
  *     the per-session catalog cannot be skipped quietly (each bypass
  *     brings back a schema-inference job per call);
  *   - `DerivedTables` holds no file-system code: derived artifacts
  *     take their freshness key from `Tables.fingerprint`, the
  *     catalog's own, so the two rules for "has this table changed"
  *     cannot fork again;
  *   - no streaming sink partitions its files by `symbol`: a batch's
  *     rows go to one symbol-sorted file, pruned by row-group statistics
  *     (a directory per symbol wrote hundreds of files per drain);
  *   - every file in `src/main` that starts a checkpointed stream calls
  *     the one stream-start hook, [[graft.streaming.StreamDefaults]],
  *     and only that file names Spark's checkpoint-manager and
  *     artifact-isolation settings, so no stream quietly goes back to a
  *     process fork per checkpoint file or a codegen recompile per start;
  *   - one writer does dynamic partition overwrites of paths,
  *     `Connectors.overwritePartitions`: only Connectors.scala names the
  *     `partitionOverwriteMode` write option and `fs.file.impl`, so every
  *     such write keeps its fork-free local file system (catalog-table
  *     writers set the session's `spark.sql.sources.` key instead);
  *   - the settable knobs (`SPARK_GRAFT_*` env vars, `spark.graft.*`
  *     confs) are exactly [[Knobs]]. A knob stays only if a recorded
  *     A/B justifies it, so adding one means editing that list on
  *     purpose.
  */
class SourceLintSpec extends AnyFunSuite {
  private val Knobs = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_SKIP",
    "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_BENCH_OUT",
    "spark.graft.q70.broadcastFrontierLimit")

  /** Every .scala file under `root` with its text; never empty, so a
    * wrong working directory cannot pass a lint vacuously. */
  private def sources(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    val found =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => p -> Files.readString(p))
      finally walk.close()
    assert(found.nonEmpty, s"no Scala sources under $root")
    found
  }
  private lazy val main = sources("src/main")
  private lazy val test = sources("src/test")

  test("only GraftSession builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val callers = (main ++ test).collect {
      case (p, src) if builder.findFirstIn(src).isDefined => p.getFileName.toString
    }
    assert(callers == Seq("GraftSession.scala"))
  }

  test("no catch clause in src/main catches Throwable") {
    // a typed `case e: Throwable` anywhere, or an untyped first case
    // right after `catch {`, which matches every Throwable too
    val typed = """case\s+\w+\s*:\s*(java\.lang\.)?Throwable\b""".r
    val untyped = """catch\s*\{\s*case\s+\w+\s*=>""".r
    val hits = main.flatMap { case (p, src) =>
      (typed.findAllIn(src) ++ untyped.findAllIn(src)).map(m => s"${p.getFileName}: $m")
    }
    assert(hits.isEmpty)
  }

  test("star-schema tables are read only through Tables") {
    // `read.parquet(s"$dir/<table>.parquet")`, with the table named
    // literally or by a variable. Tables.scala is the catalog itself;
    // MakeScale copies the source tables file for file.
    val exempt = Set("Tables.scala", "MakeScale.scala")
    val bypass =
      """read\s*\.\s*parquet\s*\(\s*s"\$\{?\w+\}?/(\$\{?\w+\}?|\w+)\.parquet"""".r
    val hits = main.collect {
      case (p, src) if !exempt(p.getFileName.toString) =>
        bypass.findAllIn(src).map(m => s"${p.getFileName}: $m")
    }.flatten
    assert(hits.isEmpty)
    // the scan covers the query surface and the operators
    assert(main.exists(_._1.endsWith(Paths.get("graft", "Queries.scala"))))
    assert(main.exists(_._1.toString.contains("/operators/")))
  }

  test("DerivedTables holds no file-system code") {
    val src = main.collectFirst {
      case (p, src) if p.endsWith(Paths.get("graft", "sources", "DerivedTables.scala")) => src
    }
    assert(src.isDefined)
    assert(Seq("java.io.File", "FileSystem", "listFiles").filter(src.get.contains).isEmpty)
  }

  test("streaming sinks do not partition their files by symbol") {
    // the last argument (the partition columns) of every
    // `overwritePartitions(` call in graft/streaming
    def calls(src: String): Seq[String] =
      """overwritePartitions\s*\(""".r.findAllMatchIn(src).map { m =>
        var (i, depth, lastArg) = (m.end, 1, m.end)
        while (depth > 0 && i < src.length) {
          src(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 1 => lastArg = i + 1
            case _ =>
          }
          i += 1
        }
        src.substring(lastArg, i - 1)
      }.toSeq
    val streaming = main.filter(_._1.toString.contains("/graft/streaming/"))
    val all = streaming.flatMap { case (p, src) => calls(src).map(p.getFileName -> _) }
    // MinuteStream's batch write and SinkMaintenance's fold
    assert(all.map(_._1.toString).toSet == Set("MinuteStream.scala", "SinkMaintenance.scala"))
    val bySymbol = all.filter(_._2.contains("\"symbol\""))
    assert(bySymbol.isEmpty)
  }

  test("every checkpointed stream start installs LocalCheckpointFiles") {
    val starts = main.collect {
      case (p, src) if src.contains("\"checkpointLocation\"") => p.getFileName.toString -> src
    }
    assert(starts.map(_._1).contains("MinuteStream.scala"))
    val missing = starts.collect { case (f, src) if !src.contains("StreamDefaults.install(") => f }
    assert(missing.isEmpty)
    for (key <- Seq("checkpointFileManagerClass", "spark.sql.artifact.isolation.enabled")) {
      val naming = main.collect { case (p, src) if src.contains(key) => p.getFileName.toString }
      assert(naming == Seq("StreamDefaults.scala"), key)
    }
  }

  test("only Connectors names the dynamic-overwrite option and the file-system override") {
    for (key <- Seq("\"partitionOverwriteMode\"", "fs.file.impl")) {
      val naming = main.collect { case (p, src) if src.contains(key) => p.getFileName.toString }
      assert(naming == Seq("Connectors.scala"), key)
    }
  }

  test("the knob literals in src/main are exactly the recorded knobs") {
    val literal = """"(SPARK_GRAFT_\w*|spark\.graft\.[\w.]*)""".r
    val found = main.flatMap { case (_, src) =>
      literal.findAllMatchIn(src).map(_.group(1))
    }.toSet
    assert(found == Knobs)
  }
}
