package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Connectors

/** Retention for the `batch_id=<id>` streaming sink layout: one
  * (symbol, timestamp)-sorted file per table per micro-batch.
  *
  * [[MinuteStream.writeBatch]] keys each micro-batch's dynamic-partition
  * overwrite on `batch_id` — that is what makes at-least-once replay
  * idempotent — but a 1-minute trigger mints ~1440 new partition
  * directories per day, so a months-running stream accumulates unbounded
  * small files and partition-listing metadata. A coarser overwrite key
  * cannot fix this: replaying batch N would then clobber OTHER batches
  * sharing the bucket. Instead, [[compact]] periodically folds finalized
  * batch partitions into one cumulative partition, and [[read]] gives a
  * crash-consistent view at every point in between.
  *
  * Safety argument: Structured Streaming starts batch N+1 only after
  * batch N's checkpoint committed, so once a partition for id N exists,
  * every id < N is final — foreachBatch replay can only ever rewrite the
  * CURRENT maximum id. Compaction therefore touches only ids strictly
  * below the maximum present and never contends with the live stream.
  *
  * Encoding: the cumulative partition has `batch_id = -(hi + 1)` and
  * holds every original row with id ≤ hi (negated so it can never
  * collide with a real id; +1 so covering id 0 doesn't need "-0").
  * Folded source directories are deleted one cycle LATE (by the next
  * [[compact]] call, not the one that folded them): the on-disk
  * duplicates this leaves are masked by [[read]] — it keeps only the
  * widest cumulative partition plus ids beyond its coverage — and the
  * grace window means a reader that listed the sink just before a fold
  * still finds every directory of its snapshot on disk. A crash at any
  * point leaves a state the next call converges from, by the same
  * masking argument.
  *
  * Migration: Spark's partition discovery rejects a table that mixes
  * this layout with the earlier `batch_id=<id>/symbol=<s>` one, so
  * rewrite such a sink or start it fresh.
  */
object SinkMaintenance {
  import org.apache.hadoop.fs.{FileSystem, Path}

  private def idOf(name: String): Option[Long] =
    if (name.startsWith("batch_id=")) name.substring(9).toLongOption else None

  /** All filesystem access goes through the Hadoop `FileSystem` API
    * resolved from the sink URI itself, so the same maintenance code
    * runs against `file:`, `hdfs:`, or any object-store connector
    * (`s3a:`, `gs:`, `abfs:`) on the cluster — a 100 TB deployment
    * does not write its sink to executor-local disk. */
  private def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def partitionIds(fs: FileSystem, root: Path): Seq[Long] =
    // single listStatus; FNFE for a not-yet-created sink. On an object
    // store every avoided exists() is one fewer metadata round-trip on
    // the per-micro-batch path.
    try fs.listStatus(root).toSeq
      .filter(_.isDirectory).flatMap(s => idOf(s.getPath.getName))
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Highest id covered by a cumulative partition, or -1 if none. */
  private def coveredHi(ids: Seq[Long]): Long =
    ids.filter(_ < 0).map(c => -c - 1).maxOption.getOrElse(-1L)

  /** Fold finalized batch partitions (id < the maximum id present) plus
    * the previous cumulative partition into one new cumulative
    * partition; the NEXT call deletes the sources (the grace window in
    * the object doc). Skips the rewrite while fewer than `minBatches`
    * finalized partitions are pending, so the (large) cumulative
    * partition is rewritten every ~minBatches triggers, not every call;
    * stale directories from an earlier crash are always cleaned. Call
    * it every K batches or from a scheduler — partition count then
    * stays O(minBatches) over the stream's lifetime instead of
    * O(triggers). */
  def compact(spark: SparkSession, dir: String, minBatches: Int = 8,
              clusterBy: Seq[String] = Nil, clusterBits: Int = 16): Unit = {
    val (fs, root) = fsFor(spark, dir)
    def drop(id: Long): Unit = { fs.delete(new Path(root, s"batch_id=$id"), true); () }
    val ids = partitionIds(fs, root)
    val hi = coveredHi(ids)
    // Always safe: anything the widest cumulative partition already
    // covers is a duplicate (crash leftovers from a previous call).
    ids.filter(id => (id >= 0 && id <= hi) || (id < 0 && -id - 1 < hi))
      .foreach(drop)
    val maxId = ids.filter(_ >= 0).maxOption.getOrElse(-1L)
    val newHi = maxId - 1 // every id <= newHi is checkpoint-final
    val posSrc = ids.filter(id => id > hi && id <= newHi)
    if (posSrc.size < minBatches) return
    val target = -(newHi + 1)
    if (!ids.contains(target)) {
      val srcPaths = (posSrc ++ (if (hi >= 0) Seq(-(hi + 1)) else Nil))
        .map(id => s"$dir/batch_id=$id")
      val merged = spark.read.option("basePath", dir).parquet(srcPaths: _*)
        .withColumn("batch_id", lit(target))
      // Rows stay symbol-sorted, so symbol reads keep pruning row
      // groups. Optional clustering piggy-backs on the fold: rows are
      // range-partitioned and sorted on (symbol, cluster key) — Morton
      // zkey for 2+ columns (operators.Layout), plain order for one —
      // so each file covers a DISJOINT cluster-key range (the
      // zorderWrite layout), at the cost of one range exchange.
      def layout(key: org.apache.spark.sql.Column) = merged
        .withColumn("__ck", key)
        .repartitionByRange(col("symbol"), col("__ck"))
        .sortWithinPartitions(col("symbol"), col("__ck"))
        .drop("__ck")
      val clustered = clusterBy match {
        case Nil => merged.sortWithinPartitions("symbol", "timestamp")
        case one :: Nil => layout(col(one))
        case many =>
          layout(graft.operators.Layout.zkey(many.map(col), clusterBits))
      }
      Connectors.overwritePartitions(clustered, dir, Seq("batch_id"))
    }
    // Deferred deletion: the sources stay on disk until the sweep at
    // the top of the next call, so a reader that listed the sink just
    // before this fold finds every directory of its snapshot.
  }

  /** Whether the sink holds any batch partition yet. The remote-FS-safe
    * existence probe to call before [[read]] — a partition-less sink has
    * no schema to infer, and `java.io.File` probing doesn't exist on
    * `hdfs:`/`s3a:`. */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val (fs, root) = fsFor(spark, dir)
    partitionIds(fs, root).nonEmpty
  }

  /** Crash-consistent view of the sink: the widest cumulative partition
    * plus every live batch beyond its coverage. Duplicates from a
    * compaction that crashed before cleanup are filtered out here; the
    * predicate prunes on the batch_id partition column, so masked
    * directories never reach the scan. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val (fs, root) = fsFor(spark, dir)
    val hi = coveredHi(partitionIds(fs, root))
    spark.read.parquet(dir)
      .where(col("batch_id") > hi || col("batch_id") === lit(-(hi + 1)))
      .drop("batch_id")
  }
}
