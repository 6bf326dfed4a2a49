package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Connectors

/** Data-layout optimization: Z-order (Morton) clustering for
  * multi-column file skipping — the OPTIMIZE-ZORDER primitive of a
  * 100 TB lakehouse. Sorting a table by the interleaved key makes the
  * per-file min/max statistics of EVERY interleaved dimension narrow,
  * so predicates on any of those columns prune files at scan time; a
  * plain sort only serves its leading column.
  *
  * The interleave is a static tree of built-in bit ops (mask, shift,
  * OR) — whole-stage-codegen'd for free, no UDF, no custom expression —
  * and [[zkeySql]] emits the identical arithmetic as ANSI SQL from the
  * same (bit, dim) enumeration, so the key is oracle-checkable
  * bit-for-bit on any engine with integer shifts.
  */
object Layout {
  /** Morton key of 2-4 long-valued dimensions, `bits` low bits each
    * (callers bucket real values into [0, 2^bits) first; higher bits
    * are masked off). zkey = OR over (b, d) of
    * ((col_d >> b) & 1) << (b·n + d). */
  def zkey(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2 && cols.size <= 4,
      s"zkey takes 2-4 dimensions, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits * dims must fit a positive long, got $bits * ${cols.size}")
    val n = cols.size
    val masked = cols.map(_.cast("long").bitwiseAND(lit((1L << bits) - 1)))
    val terms = for (b <- 0 until bits; d <- 0 until n)
      yield shiftleft(shiftright(masked(d), b).bitwiseAND(lit(1L)), b * n + d)
    terms.reduce(_ bitwiseOR _)
  }

  /** The identical Morton arithmetic as ANSI SQL over `exprs` — same
    * (bit, dim) enumeration as [[zkey]], for DuckDB oracles. */
  def zkeySql(exprs: Seq[String], bits: Int): String = {
    val n = exprs.size
    val mask = (1L << bits) - 1
    // every term fully parenthesized INCLUDING its shift: Postgres-family
    // engines give  |  and  <<  equal precedence (left-assoc), so
    // `a | b << s` parses as `(a | b) << s`
    val terms = for (b <- 0 until bits; d <- 0 until n)
      yield s"(((((${exprs(d)}) & $mask) >> $b) & 1) << ${b * n + d})"
    terms.mkString("(", " | ", ")")
  }

  /** Cluster `df` on the Morton key of `dims` and write `files`
    * parquet files: range-partition on zkey (sampled range exchange —
    * the only shuffle), sort within each range, drop the key. Each
    * output file then covers a compact z-range, i.e. a bounded bbox in
    * every interleaved dimension — the file-skipping layout. At 100 TB
    * `files` scales with the cluster (one task per output file). */
  def zorderWrite(df: DataFrame, dims: Seq[String], bits: Int,
                  files: Int, path: String): Unit =
    df.withColumn("__zkey", zkey(dims.map(col), bits))
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)

  /** Per-ingest LAYOUT maintenance — OPTIMIZE-ZORDER without the
    * rewrite: z-cluster the BATCH alone and land it under an
    * `ingest_id=` partition via dynamic partition overwrite, then
    * refresh the manifest incrementally ([[refreshManifest]]). Each
    * ingest's files carry compact per-file bboxes (the batch is
    * range-partitioned and sorted on its own z-keys), so pruning holds
    * per partition; a full-table re-cluster is the COMPACTION-cadence
    * op, not the daily one — at 100 TB re-sorting the table per ingest
    * is exactly the O(corpus)-per-batch shape the maintenance family
    * exists to avoid. Replay-idempotent: a retried ingest replaces its
    * own partition and its own manifest rows (the
    * writeBucketedIngest discipline applied to layout). Bootstrap =
    * first call (any id, conventionally "base"). */
  def appendZorder(spark: SparkSession, batch: DataFrame, dims: Seq[String],
                   bits: Int, files: Int, path: String,
                   ingestId: String): Unit = {
    require(ingestId.nonEmpty, "ingestId must be non-empty")
    Connectors.overwritePartitions(
      batch.withColumn("__zkey", zkey(dims.map(col), bits))
        .withColumn("ingest_id", lit(ingestId))
        .repartitionByRange(files, col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey"),
      path, Seq("ingest_id"))
    refreshManifest(spark, path, dims, ingestId)
  }

  /** Incremental manifest refresh for [[appendZorder]]: recompute
    * per-file stats for ONE ingest partition (an O(batch) scan), keep
    * every other partition's manifest rows untouched, rewrite the
    * (tiny: files × dims) manifest. Replayed ingests replace their own
    * rows — the filter drops the partition's stale entries first. */
  def refreshManifest(spark: SparkSession, dir: String, dims: Seq[String],
                      ingestId: String): Unit = {
    val aggs = dims.flatMap(d =>
      Seq(min(col(d)).as(s"min_$d"), max(col(d)).as(s"max_$d")))
    val fresh = spark.read.option("basePath", dir)
      .parquet(s"$dir/ingest_id=$ingestId")
      .withColumn("__file", input_file_name())
      .groupBy("__file")
      .agg(aggs.head, aggs.tail: _*)
    val manifestPath = s"$dir/$ManifestDir"
    val fs = org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val kept =
      if (fs.exists(new org.apache.hadoop.fs.Path(manifestPath)))
        spark.read.parquet(manifestPath)
          .filter(!col("__file").contains(s"/ingest_id=$ingestId/"))
      else fresh.limit(0)
    // materialize before overwriting the dir being read
    val merged = kept.unionByName(fresh).coalesce(1).localCheckpoint(true)
    merged.write.mode("overwrite").parquet(manifestPath)
  }

  /** The manifest sub-directory a stats manifest lives in. */
  val ManifestDir = "_graft_manifest"

  /** Collect per-FILE min/max statistics for `dims` over a parquet
    * table and persist them as the table's manifest — the skipping
    * index that turns a [[zorderWrite]] layout into pruned scans
    * (the Delta/Iceberg file-stats idea as a self-contained artifact).
    * One distributed pass: group by input file name, min/max each dim.
    * Manifest size = files × dims — driver-safe at any table size. */
  def writeManifest(spark: SparkSession, dir: String,
                    dims: Seq[String]): Unit = {
    val aggs = dims.flatMap(d =>
      Seq(min(col(d)).as(s"min_$d"), max(col(d)).as(s"max_$d")))
    spark.read.parquet(dir)
      .withColumn("__file", input_file_name())
      .groupBy("__file")
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$ManifestDir")
  }

  /** The files whose [min, max] envelope on `dim` intersects
    * [lo, hi] — a driver-side manifest lookup (manifest rows = file
    * count, collect is safe). */
  def prunedFiles(spark: SparkSession, dir: String, dim: String,
                  lo: Long, hi: Long): Seq[String] =
    spark.read.parquet(s"$dir/$ManifestDir")
      .where(col(s"max_$dim") >= lo && col(s"min_$dim") <= hi)
      .select("__file").collect().map(_.getString(0)).toSeq

  /** Range scan through the manifest: only intersecting files are
    * listed to the reader (the others never open), then the exact
    * predicate filters inside them. Returns the same rows a full scan
    * + filter would — the spec proves both equality and the pruning. */
  def readPruned(spark: SparkSession, dir: String, dim: String,
                 lo: Long, hi: Long): DataFrame = {
    val files = prunedFiles(spark, dir, dim, lo, hi)
    // basePath recovers directory-partition columns (ingest_id under
    // an appendZorder layout) when reading leaf files directly; for a
    // flat zorderWrite layout it is a no-op
    if (files.isEmpty)
      spark.read.parquet(dir).where(lit(false))
    else
      spark.read.option("basePath", dir).parquet(files: _*)
        .where(col(dim) >= lo && col(dim) <= hi)
  }
}
