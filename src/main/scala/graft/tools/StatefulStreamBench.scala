package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Throughput probe for the STATEFUL streaming paths that gate real
  * ingest — the numbers [[StreamBench]]'s minute pipeline doesn't
  * cover:
  *
  *   1. `neardup`: [[graft.streaming.NearDupStream.suppress]] — the
  *      corpus admission gate (MinHash per doc, multi-band bucket
  *      routing, RocksDB TTL-bucketed candidate state, exact verify
  *      per colliding pair) driven end-to-end over a generated
  *      document log through the same graftlog → JSON parse → suppress
  *      chain `EdgeRunner --mode neardup` runs.
  *   2. `funnel`: [[graft.streaming.FunnelStream.advances]] — the
  *      per-user ordered-stage state machine (transformWithState,
  *      value state per user).
  *
  * Reports docs/s (resp. events/s), the admitted/advance counts, and
  * the per-micro-batch latency spread (median/max of the engine's
  * batch durations) — the round-over-round regression surface
  * TESTDATA.md records. Input generation is untimed and codegen'd
  * (no driver-side row materialization).
  *
  * Doc corpus shape: ~1/8 of docs are near-dup re-posts of an earlier
  * doc (one token appended to a 40-token body), so the suppressor's
  * verify path and state actually work; the rest are unique. Docs
  * arrive in ascending ts like a real edge.
  *
  * Run: `sbt "runMain graft.tools.StatefulStreamBench [nDocs] [nEvents]
  * [nFiles] [batches]"`. */
object StatefulStreamBench {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 200000L
    val nEvents = if (args.length > 1) args(1).toLong else 2000000L
    val nFiles = if (args.length > 2) args(2).toInt else 16
    val batches = if (args.length > 3) args(3).toInt else 8
    // batch stats come from recentProgress, which keeps only this many
    // updates (default 100). Each stream reads max(1, lines/batches)
    // lines per trigger, so it runs at most 2·batches data batches; the
    // slack covers idle-trigger progress updates.
    val spark = graft.GraftSession(conf = Seq(
      "spark.sql.streaming.numRecentProgressUpdates" -> (2 * batches + 8).toString))
    import spark.implicits._

    /** The engine's data batches and their median/max duration. Fails
      * if recentProgress no longer holds batch 0, i.e. dropped some. */
    def batchStats(q: StreamingQuery): String = {
      val all = q.recentProgress
      require(all.headOption.forall(_.batchId == 0),
        s"recentProgress starts at batch ${all.head.batchId}: stats would be truncated")
      val d = all.filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").toLong).sorted
      s"batches=${d.length} batch_ms_med=${d.lift(d.length / 2).getOrElse(0L)} " +
        s"batch_ms_max=${d.lastOption.getOrElse(0L)}"
    }

    val work = java.nio.file.Files.createTempDirectory("graft_stbench")

    // ---- 1. near-dup admission gate over a generated document log ----
    val docLog = s"$work/docs"
    val baseMs = 1704067200000L
    // 40 tokens from a 997-word vocabulary, seeded per document GROUP:
    // id % 8 == 7 replays doc id-7's body with one extra token — a
    // near-dup the MinHash bands must route to the same bucket and the
    // exact verify must suppress
    val seed = when(pmod(col("id"), lit(8L)) === 7L, col("id") - 7L)
      .otherwise(col("id"))
    val body = concat_ws(" ", transform(sequence(lit(0L), lit(39L)),
      i => concat(lit("w"), pmod(xxhash64(seed, i), lit(997L)))))
    val text = when(pmod(col("id"), lit(8L)) === 7L,
      concat(body, lit(" extra"))).otherwise(body)
    val docLine = to_json(struct(
      col("id").as("doc_id"), text.as("text"), lit("en").as("lang"),
      timestamp_millis((lit(baseMs) + col("id") * 2L)).as("ts")))
    spark.range(nDocs)
      .repartition(nFiles, col("id"))
      .sortWithinPartitions("id")
      .select(docLine.as("value"))
      .write.text(docLog)

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.streaming.TtlState.RocksDbProvider)
    // session-wide: both streams below checkpoint through it
    graft.streaming.StreamDefaults.install(spark)
    // the drain contract for processing-time-TTL state (see
    // EdgeRunner.startNearDup): without this, transformWithState
    // reports "needs another batch" forever and AvailableNow spins
    // empty micro-batches — each a full RocksDB checkpoint upload —
    // instead of stopping at the drained offsets
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val nLines = nDocs
    val docsStream = graft.streaming.CorpusStream.parseDocs(
        spark.readStream.format("graftlog")
          .option("path", docLog)
          .option("maxLinesPerTrigger", math.max(1L, nLines / batches))
          .load()
          .selectExpr("value"))
      .select("doc_id", "text", "ts")
    val ndOut = s"$work/nd_out"
    val t0 = System.nanoTime()
    val ndq = graft.streaming.NearDupStream.suppress(docsStream,
        ttl = java.time.Duration.ofMinutes(30), threshold = 0.7, bands = 2)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/nd_ckpt")
      .format("parquet").option("path", ndOut)
      .trigger(Trigger.AvailableNow())
      .start()
    ndq.awaitTermination()
    val ndSec = (System.nanoTime() - t0) / 1e9
    val admitted = spark.read.parquet(ndOut).count()
    println(f"[statefulbench] neardup docs=$nDocs%d wall=$ndSec%.1fs " +
      f"rate=${nDocs / ndSec}%.0f docs/s admitted=$admitted%d " +
      s"${batchStats(ndq)} state=rocksdb(bands=2,ttl=30m)")

    // ---- 2. per-user funnel state machine over a generated event log --
    val evLog = s"$work/events"
    val stages = Seq("signup" -> "signup", "activate" -> "activate",
      "purchase" -> "purchase")
    // nUsers = nEvents/8; each user's events cycle through stage types
    // (plus noise types), ts ascending per user
    val user = pmod(xxhash64(col("id")), lit(math.max(1L, nEvents / 8L)))
    val etype = element_at(
      typedlit(Seq("signup", "view", "activate", "view", "purchase", "view")),
      (pmod(col("id"), lit(6L)) + 1L).cast("int"))
    val evLine = to_json(struct(
      user.as("user_id"),
      timestamp_millis((lit(baseMs) + col("id"))).as("ts"),
      etype.as("event_type")))
    spark.range(nEvents)
      .repartition(nFiles, col("id"))
      .sortWithinPartitions("id")
      .select(evLine.as("value"))
      .write.text(evLog)
    val evSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType, nullable = false),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType, nullable = false)))
    val evStream = spark.readStream.format("graftlog")
      .option("path", evLog)
      .option("maxLinesPerTrigger", math.max(1L, nEvents / batches))
      .load()
      .select(from_json(col("value"), evSchema).as("e"))
      .select("e.*")
      .as[graft.streaming.FunnelStream.FunnelEvent]
    val fOut = s"$work/funnel_out"
    val t1 = System.nanoTime()
    val fq = graft.streaming.FunnelStream.advances(evStream, stages)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/f_ckpt")
      .format("parquet").option("path", fOut)
      .trigger(Trigger.AvailableNow())
      .start()
    fq.awaitTermination()
    val fSec = (System.nanoTime() - t1) / 1e9
    val advances = spark.read.parquet(fOut).count()
    println(f"[statefulbench] funnel events=$nEvents%d wall=$fSec%.1fs " +
      f"rate=${nEvents / fSec}%.0f events/s advances=$advances%d " +
      s"${batchStats(fq)} state=value-per-user(3 stages)")

    // ---- 3. trained-gate corpus admission (r19, VERDICT item 7): the
    // CorpusStream.startTrained path — watermarked dedup + the trained
    // logistic admission gate (per-row exact-decimal broadcast-weight
    // scorer, TextAnalysis.trainedScoreDecimal) + partitioned parquet
    // sink — over the SAME generated doc log as probe 1, so the two
    // rates bracket the admission pipeline with and without the
    // MinHash/RocksDB near-dup state. The model trains (untimed) on a
    // batch read of the log, the same corpus the stream replays.
    val batchDocs = spark.read.text(docLog)
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType, nullable = false)))).as("d"))
      .select("d.*")
    val teacher = graft.plans.TextHash.classifierScore(
      graft.functions.TextOps.tokens(col("text"))) > 0L
    val model = graft.operators.TextAnalysis.logisticTrain(
      batchDocs, "doc_id", "text", teacher, nBuckets = 512, rounds = 2)
    val cOut = s"$work/corpus_out"
    val docLines = spark.readStream.format("graftlog")
      .option("path", docLog)
      .option("maxLinesPerTrigger", math.max(1L, nLines / batches))
      .load()
      .selectExpr("value")
    val t2 = System.nanoTime()
    val cq = graft.streaming.CorpusStream.startTrained(docLines, cOut,
      s"$work/c_ckpt", model, trigger = Trigger.AvailableNow())
    cq.awaitTermination()
    val cSec = (System.nanoTime() - t2) / 1e9
    val cAdmitted = spark.read.parquet(cOut).count()
    println(f"[statefulbench] corpus-trained docs=$nDocs%d wall=$cSec%.1fs " +
      f"rate=${nDocs / cSec}%.0f docs/s admitted=$cAdmitted%d " +
      s"${batchStats(cq)} state=dedup-map(watermark 10m), gate=trained-512b")
    spark.stop()
  }
}
