package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor replicator for the builder-side sf1+ bench probes:
  * `runMain graft.tools.MakeScale <srcSfDir> <destDir> <factor>`
  * writes `factor`× copies of EVERY fact table with keys remapped per
  * replica (round 17: grew from documents+orders to the full star so
  * the whole 196-query surface can ratio-sweep — SCALE_r{N}.json).
  *
  * Construction matters more than volume here. Document TEXT is
  * salted per replica at the TOKEN level (`word` → `word_rN`), so:
  *   - cross-replica shingle sets are DISJOINT — near-dup/containment
  *     pair counts scale exactly linearly with the factor (naive
  *     cloning would add cross-replica pairs quadratically, the
  *     clones-squared artifact TESTDATA.md documents for the 100×
  *     hash-stability sweeps, and any superlinear bench ratio would
  *     measure the fixture, not the engine);
  *   - within-replica structure is byte-for-byte isomorphic to the
  *     source, so per-replica work is the source workload repeated.
  * `n_chars` is recomputed from the salted text. EMBEDDINGS cannot be
  * salted (cloned vectors are genuinely identical points), so
  * vector-PAIR queries (s07, s13) stay excluded from replica ratio
  * sweeps — the documented d05-family rule's remaining members.
  *
  * Every key column shifts by `replica × STRIDE` with ONE shared
  * stride (> any key in the shipped SFs), so every foreign-key family
  * stays consistent without a per-family step map: lineitem replica i
  * joins orders/part/supplier replica i and only it; q70's recursion
  * DEPTH stays the per-customer maximum while its row count scales.
  * Dimension tables (region, nation) copy once, keys untouched — star
  * joins fan out factor×, which is the point. doc_id splits on %5
  * survive replication (STRIDE % 5 = 0). Replica 0 is the source
  * verbatim. */
object MakeScale {
  val Stride = 10000000L // > every key max in the shipped SFs (~2.4M at sf0.1)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: MakeScale <srcSfDir> <destDir> <factor>")
    val Array(src, dest, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cpus = graft.GraftSession.cores
    val spark = graft.GraftSession()

    def replicate(table: String, keyCols: Seq[String],
                  extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      // the shared stride only keeps replicas disjoint if every source
      // key is below it — chaining MakeScale onto its own output (sf1
      // -> sf10) would otherwise silently overlap key ranges. ONE
      // combined aggregation (not one scan per key column); a null max
      // = empty table = trivially collision-free. Keys cast to long so
      // an int-typed key in a foreign fixture hits the intended guard
      // message, not a getLong ClassCastException
      val maxes = df.agg(max(col(keyCols.head).cast("long")),
        keyCols.tail.map(k => max(col(k).cast("long"))): _*).head
      keyCols.zipWithIndex.foreach { case (k, i) =>
        if (!maxes.isNullAt(i)) require(maxes.getLong(i) < Stride,
          s"$table.$k max ${maxes.getLong(i)} >= stride $Stride — " +
            "source keys would collide across replicas")
      }
      (0 until factor).map { i =>
        keyCols.foldLeft(extra(df, i)) { (d, k) =>
          d.withColumn(k, col(k) + lit(i * Stride))
        }
      }.reduce(_ unionByName _)
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$dest/$table.parquet")
      val n = spark.read.parquet(s"$dest/$table.parquet").count()
      println(s"[makescale] $table: ${df.count()} x $factor -> $n rows")
    }

    // dims: one copy, keys untouched (star joins fan out factor-x)
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[makescale] $t: copied once")
    }

    replicate("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1_r" + i))
        .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("embeddings", Seq("vec_id"))

    spark.stop()
  }
}
