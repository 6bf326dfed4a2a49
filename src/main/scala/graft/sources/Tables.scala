package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** Readers for the driver's Parquet star schema (TESTDATA.md), behind a
  * per-session table catalog.
  *
  * Resolving a parquet path (`spark.read.parquet`) lists it and runs one
  * Spark schema-inference job, whose task reads the footer. The
  * catalog pays that once per (session, path): it keeps the resolved
  * `BaseRelation` (schema plus file listing, no data) and every later
  * call wraps it in a fresh `LogicalRelation` via
  * `spark.baseRelationToDataFrame`. A fresh relation means fresh
  * attribute ids, so two calls for the same table can be joined to each
  * other with DataFrame column references (q10, the pair joins).
  *
  *  - Invalidation: an entry is keyed on [[fingerprint]] (the
  *    (path, length, mtime) of the table's leaf files), and so is every
  *    derived artifact ([[DerivedTables]]): a rewrite re-resolves the
  *    table and rebuilds what was derived from it, or neither. A
  *    single-file table costs one `stat` per call; a directory table (a
  *    MakeScale replica) is listed, because rewriting a part file in
  *    place leaves the directory's own mtime alone. A missing path
  *    fails with the file system's FileNotFoundException.
  *  - Session scope: a `HadoopFsRelation` holds its `SparkSession`, so
  *    entries are keyed by session identity and never served to another
  *    session (a `spark.newSession()` child resolves its own). Every
  *    entry of a SparkContext is dropped when it stops, so the catalog
  *    keeps no stopped session alive; a child session dropped while its
  *    context runs keeps its few entries until then.
  *  - Session confs that shape schema conversion are read at the first
  *    resolve; `nanosAsLong` is set on every call (see [[resolve]]).
  *
  * All downstream operators stay declarative, which lets Catalyst push
  * filters and prune columns into the scan (verify with
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`). At cluster
  * scale the same readers work unchanged: partition pruning and split
  * planning are handled by the parquet source.
  *
  * Reference data model: SURVEY.md §1 (the reference declares fixed
  * StructTypes at the edge, `spark/jobs/stock_batch.py:16-24`); here the
  * edge is parquet, which carries its own schema.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Natural unique(-ish) key per FACT/CORPUS table, used by the scan
    * fan-out below. Dimension tables (region..part) are deliberately
    * absent: they are broadcast-sized by the star-schema contract, and
    * fanning a broadcast side would only add an exchange job in front
    * of every broadcast build. */
  private val fanOutKey: Map[String, String] = Map(
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  /** Footer summary of a table's files: (rowGroups, bytes, rows). */
  private final case class FileMeta(rowGroups: Int, bytes: Long, rows: Long)

  /** One resolved table: its leaf files as of resolution and the
    * relation over them. */
  private final class Entry(fs: FileSystem, leaves: Seq[FileStatus],
                            val relation: BaseRelation) {
    val fingerprint: String = fingerprintOf(leaves)

    /** Footer summary for [[fanOut]], read on first use (~1 ms a file). */
    lazy val meta: FileMeta = {
      import scala.jdk.CollectionConverters._
      val blocks = leaves.flatMap { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, fs.getConf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.toSeq finally r.close()
      }
      FileMeta(blocks.size, leaves.map(_.getLen).sum,
        blocks.map(_.getRowCount).sum)
    }
  }

  /** SHA-256 hex of the leaves' (qualified path, length, mtime). */
  private def fingerprintOf(leaves: Seq[FileStatus]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(leaves
      .map(st => s"${st.getPath}\u0000${st.getLen}\u0000${st.getModificationTime}")
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** The files Spark would scan under `p`: `p` itself, or every
    * non-hidden file below it (`_SUCCESS`, `.crc` and the like skipped). */
  private def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(st)
    else {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[FileStatus]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) out += f
      }
      out.result().sortBy(_.getPath.toString)
    }
  }

  /** The file system of `path` and its [[leafFiles]]. */
  private def leavesOf(spark: SparkSession, path: String): (FileSystem, Seq[FileStatus]) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, leafFiles(fs, p))
  }

  /** "Has this table's data changed", for the catalog and every derived
    * artifact: a digest of the files Spark would scan under `path`, any
    * Hadoop path. Lists `path` without resolving it (no Spark job, any
    * file format); a missing path throws FileNotFoundException. */
  def fingerprint(spark: SparkSession, path: String): String =
    fingerprintOf(leavesOf(spark, path)._2)

  /** [[fingerprint]] of the table `dir/name.parquet`. */
  def fingerprint(spark: SparkSession, dir: String, name: String): String =
    fingerprint(spark, s"$dir/$name.parquet")

  private val catalog = new ConcurrentHashMap[(SparkSession, String), Entry]
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  /** Drops every entry of `sc`'s sessions when `sc` stops. */
  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        catalog.keySet.removeIf(_._1.sparkContext eq sc)
        watched.remove(sc)
      }
    })

  /** The catalog entry for `dir/name.parquet` in `spark`, resolved
    * again when the table's files changed since the last call. */
  private def resolve(spark: SparkSession, dir: String, name: String): Entry = {
    // Legacy testdata generations carried events.ts as TIMESTAMP(NANOS),
    // which Spark rejects at schema conversion unless this conf is set
    // (it reads as epoch-nanos LongType instead). Harmless on the
    // current TIMESTAMP(MICROS) layout; kept so the nanos fixture and
    // any old replica stay readable. Set on every call (idempotent
    // session conf) rather than inside the events reader only —
    // otherwise whether a generic read of `events` works depends on
    // whether Tables.events happened to run first in the session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val (fs, leaves) = leavesOf(spark, path)
    val key = (spark, path)
    val cached = catalog.get(key)
    if (cached != null && cached.fingerprint == fingerprintOf(leaves)) cached
    else {
      val relation = spark.read.parquet(path).queryExecution.analyzed match {
        case l: LogicalRelation => l.relation
        case other => throw new IllegalStateException(
          s"$path resolved to ${other.nodeName}, not a LogicalRelation")
      }
      val e = new Entry(fs, leaves, relation)
      watch(spark.sparkContext)
      catalog.put(key, e)
      e
    }
  }

  /** Scale-adaptive SCAN FAN-OUT (optimization guide §2.5 input skew,
    * §8 "use what you know that the optimizer does not"): a parquet
    * ROW GROUP is the minimum read unit, so a single-row-group file
    * scans in ONE task no matter how the splits are configured — and
    * the driver's testdata files are exactly that shape (sf0.1
    * lineitem: 600k rows, 1 row group), which serialized every
    * downstream tokenize/aggregate onto one core of a 32-core box.
    *
    * When the table's row groups (summed over its files) cannot feed
    * half the cores AND the table is big enough for downstream work to
    * matter (≥ 256 KB — sf0.001, unit fixtures and the plan-lock specs
    * stay untouched),
    * hash-repartition on the table's natural key to
    * K = min(defaultParallelism, rows/150). Design notes:
    *
    *  - Keyed repartition, not round-robin: skips the
    *    sortBeforeRepartition local sort and aligns with the dominant
    *    downstream partitioning (per-doc/per-order aggregations at
    *    spark.sql.shuffle.partitions == K reuse the exchange).
    *  - Row-count-aware K: tiny tables (embeddings, 2000 rows) do not
    *    fan into 32 near-empty partitions whose per-task overhead
    *    dominates iterative (k-means/PQ) consumers.
    *  - A UNION of K disjoint key-range scans (no exchange at all) was
    *    measured as the alternative and REJECTED: with self-joining /
    *    multi-reference consumers the K-leg union multiplies into
    *    16 MB task binaries and minute-long plans (q60 1 s → 41 s) —
    *    see OPTIMIZATION_r18.md. The exchange costs one serialized
    *    pass of the (column-pruned, filter-pushed — both still reach
    *    the scan through the repartition) row stream; the win is every
    *    downstream tokenize/aggregate/window running K-wide instead of
    *    serially.
    *  - At production scale files carry many row groups, so the rule
    *    self-disables: plain scan, zero overhead. Key distributions
    *    are unique-ish (≥ 150k orderkeys, 5k doc_ids against ≤ 32-way
    *    fan-out), so hash balance holds (guide §2.5). */
  private def fanOut(spark: SparkSession, df: DataFrame, name: String,
                     entry: Entry): DataFrame = {
    val keyOpt = fanOutKey.get(name)
    if (keyOpt.isEmpty) return df
    val key = keyOpt.get
    val par = spark.sparkContext.defaultParallelism
    val meta =
      try entry.meta
      // unreadable footer: plain scan. NonFatal only — swallowing OOM/
      // LinkageError here would mask a real failure as a perf change.
      catch { case scala.util.control.NonFatal(_) => return df }
    val fire = meta.rowGroups < math.max(par / 2, 1) &&
      meta.bytes >= 256L * 1024
    val k = math.min(par.toLong, math.max(1L, meta.rows / 150L)).toInt
    if (!fire || k <= 1) df
    else df.repartition(k, org.apache.spark.sql.functions.col(key))
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.baseRelationToDataFrame(resolve(spark, dir, name).relation)

  /** [[apply]] + [[fanOut]]: the OPT-IN fan-out reader. Deliberately a
    * separate entry instead of a blanket rule inside [[apply]] — a
    * full-surface A/B (OPTIMIZATION_r18.md) showed fan-out is a clear
    * win only for consumers whose per-row work dwarfs one exchange of
    * the rows (feature/shingle EXPLODE pipelines, multi-pass trainers,
    * heavy decimal aggregations) and a net loss for
    * reduce-immediately consumers (sketch aggregates, small word-table
    * pipelines), so each call site chooses. */
  def fanned(spark: SparkSession, dir: String, name: String): DataFrame = {
    val entry = resolve(spark, dir, name)
    fanOut(spark, spark.baseRelationToDataFrame(entry.relation), name, entry)
  }

  def documentsFanned(s: SparkSession, d: String): DataFrame =
    fanned(s, d, "documents")
  def embeddingsFanned(s: SparkSession, d: String): DataFrame =
    fanned(s, d, "embeddings")
  def lineitemFanned(s: SparkSession, d: String): DataFrame =
    fanned(s, d, "lineitem")
  // (an eventsFanned variant existed in r18 but every events consumer
  // measured neutral-to-loss under fan-out — the window exchange
  // dominates — so no call site ever adopted it; dropped as dead code)

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet layouts across driver testdata
    * generations, so branch on the ingested type:
    *
    *  - TIMESTAMP(NANOS): Spark's reader rejects it outright unless
    *    `nanosAsLong` is set (done in `apply`), in which case it arrives as
    *    `LongType` epoch-nanos. Convert with integral division
    *    (`DIV 1000` — double division would lose precision above 2^53);
    *    the synthetic timestamps are µs-aligned, so this is lossless.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    `TIMESTAMP_NTZ`. Cast to `TimestampType` for a schema identical to
    *    the nanos path. The cast reinterprets wall-clock values in the
    *    session timezone, so it is only lossless when the session is pinned
    *    to UTC — assert that precondition here rather than relying on every
    *    entrypoint's builder config.
    *  - Already `TimestampType` (isAdjustedToUTC=true): pass through.
    *
    * Scale note: time-range predicates written against the converted
    * `ts` still reach the parquet scan on the NTZ path — Catalyst's
    * UnwrapCastInBinaryComparison rewrites `cast(ts) >= lit` to an
    * NTZ comparison (verified: `PushedFilters: [GreaterThanOrEqual(ts,
    * …)]` in the formatted plan), so a 100 TB scan with a time filter
    * prunes row groups rather than reading the table.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        val tz = s.conf.get("spark.sql.session.timeZone")
        // any UTC-equivalent zone id keeps the cast lossless — normalize
        // rather than string-compare so "Etc/UTC"/"GMT"/"+00:00" pass
        val utcEquivalent =
          try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
          catch { case _: java.time.DateTimeException => false }
        require(utcEquivalent,
          s"events.ts is TIMESTAMP_NTZ; casting to TIMESTAMP is only " +
            s"lossless under a UTC session, but spark.sql.session.timeZone=$tz")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts arrived as unrecognized type $other — the driver " +
          "testdata layout changed again; teach Tables.events the new " +
          "layout (see TablesDriftSpec)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
