package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.functions.TextOps
import graft.operators.TextAnalysis

/** Continuous corpus ingestion — the streaming face of the corpus-prep
  * pipeline (batch twin: p01 in [[graft.Queries]]): documents arrive as
  * JSON lines, pass the quality gate, and exact duplicates (by
  * normalized-content fingerprint) are dropped within the watermark
  * horizon before the append sink.
  *
  * Scale posture: the quality gate and fingerprint are stateless,
  * per-row, codegen'd; the only state is the dedup map, bounded by
  * (distinct fingerprints × watermark horizon) — the same state
  * discipline as MinuteStream (T4/T5). A true cross-corpus dedup at
  * 100 TB runs as the batch d02/d07 jobs over the landed data; the
  * stream drops the re-deliveries and rapid re-posts that would
  * otherwise dominate the landing zone.
  */
object CorpusStream {
  /** Wire schema: one JSON document per line. */
  val doc: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType),
    StructField("ts", TimestampType, nullable = false)))

  /** Raw JSON lines (column `value`) → typed doc rows. */
  def parseDocs(lines: DataFrame): DataFrame =
    lines.selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), doc).as("d"))
      .select("d.*")

  /** The distinct content fingerprints of an already-landed corpus —
    * the static side of [[prepare]]'s known-corpus anti-join. At scale
    * this is a persisted key table maintained per ingest (the batch
    * twin: [[graft.operators.Dedup.incrementalKeep]]'s key discipline),
    * not a recomputation over the corpus per stream start. */
  def knownFingerprints(corpus: DataFrame, textCol: String = "text"): DataFrame =
    corpus.select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()

  /** Quality gate + watermarked content dedup. Works on static and
    * streaming frames alike. `knownKeys` (a STATIC frame of `fp`
    * fingerprints, see [[knownFingerprints]]) additionally drops docs
    * already present in the landed corpus — a stream-static LEFT ANTI
    * join, stateless on the stream side, so the only streaming state
    * remains the watermarked within-stream dedup map. */
  def prepare(docs: DataFrame, watermark: String = "10 minutes",
              knownKeys: Option[DataFrame] = None): DataFrame =
    prepareGated(docs, TextAnalysis.qualityPredicate(col("text")),
      watermark, knownKeys)

  /** [[prepare]] with the t20/p03 MODEL-INFERENCE gate in place of the
    * heuristic: keep docs whose hashed bag-of-n-grams classifier score
    * is positive ([[graft.plans.HashedClassifierScore]] — fastText-
    * style quality filter). The gate is a stateless per-row native
    * expression, so it costs the same in streaming and batch and can
    * move between the landing stream and the batch refresh (p03)
    * without semantic drift; dedup/anti-join state is unchanged. */
  def prepareClassified(docs: DataFrame, watermark: String = "10 minutes",
                        knownKeys: Option[DataFrame] = None,
                        nBuckets: Int = 4096): DataFrame =
    prepareGated(docs,
      graft.plans.TextHash.classifierScore(
        TextOps.tokens(col("text")), nBuckets) > 0L,
      watermark, knownKeys)

  private def prepareGated(docs: DataFrame,
                           gate: org.apache.spark.sql.Column,
                           watermark: String,
                           knownKeys: Option[DataFrame]): DataFrame = {
    val gated = docs
      .filter(gate)
      .withColumn("fp", TextOps.fingerprint(col("text")))
    val fresh = knownKeys.fold(gated)(k =>
      gated.join(k.select("fp"), Seq("fp"), "left_anti"))
    if (docs.isStreaming)
      fresh.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(Seq("fp"))   // keeps first ARRIVAL
    else
      // batch twin keeps min doc_id per content (the d02 rule) — a bare
      // dropDuplicates would keep whichever row a partition saw first
      graft.operators.Dedup.keepOneByContent(fresh, "doc_id", col("fp"))
  }

  /** [[prepare]] with pipeline observability: CollectMetrics nodes
    * before and after the gate/dedup stages count rows and input bytes
    * INSIDE the existing pass — no second scan, no action, no state.
    * Streaming: per-batch numbers arrive in every
    * `StreamingQueryProgress.observedMetrics` under "corpus_in" /
    * "corpus_out" (the ingest-health dashboard feed: dedup ratio, gate
    * drop rate, byte throughput). Batch: the same names surface in
    * `df.queryExecution.observedMetrics` after any action. At 100 TB
    * this is the difference between monitoring ingestion and re-running
    * three count() jobs over it. */
  def prepareObserved(docs: DataFrame, watermark: String = "10 minutes",
                      knownKeys: Option[DataFrame] = None): DataFrame =
    prepare(
      docs.observe("corpus_in",
        count(lit(1)).as("n_in"),
        sum(octet_length(col("text")).cast("long")).as("bytes_in")),
      watermark, knownKeys)
      .observe("corpus_out", count(lit(1)).as("n_out"))

  /** Run the ingestion end-to-end: lines → prepare → partitioned
    * parquet append (by lang, the downstream mix/filter key). Uses the
    * NATIVE parquet streaming sink, which is exactly-once by itself:
    * its _spark_metadata commit log records the files of each batch, so
    * a replayed batch's files are never double-counted by readers —
    * unlike a foreachBatch append, which needs MinuteStream.writeBatch's
    * batch_id-overwrite pattern to get the same guarantee. */
  def start(lines: DataFrame, outDir: String, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("1 minute"),
            watermark: String = "10 minutes",
            knownKeys: Option[DataFrame] = None): StreamingQuery =
    sink(prepare(parseDocs(lines), watermark, knownKeys),
      outDir, checkpoint, trigger)

  /** [[prepare]] with the TRAINED logistic gate (a persisted model
    * from `TextAnalysis.ensureLogisticModel`) in place of the
    * heuristic/fixed-hash gates: the ≤ nBuckets+1 learned weights load
    * ONCE at stream build into a dense array literal, and admission is
    * a stateless per-row exact-decimal sign gate
    * ([[TextAnalysis.trainedGate]]) — O(1) per feature, no per-row map
    * scan, no state beyond the dedup map. The admitted set is EXACTLY
    * what batch `logisticApply` keeps on the same rows (spec-locked),
    * so a corpus can move between streaming admission and the batch
    * refresh (p15) without semantic drift. */
  def prepareTrained(docs: DataFrame, model: TextAnalysis.LogisticModel,
                     watermark: String = "10 minutes",
                     knownKeys: Option[DataFrame] = None): DataFrame =
    prepareGated(docs, TextAnalysis.trainedGate(col("text"), model),
      watermark, knownKeys)

  /** [[start]] with the trained-model admission gate — the
    * `--mode corpus --model <name>` path. */
  def startTrained(lines: DataFrame, outDir: String, checkpoint: String,
                   model: TextAnalysis.LogisticModel,
                   trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                   watermark: String = "10 minutes",
                   knownKeys: Option[DataFrame] = None): StreamingQuery =
    sink(prepareTrained(parseDocs(lines), model, watermark, knownKeys),
      outDir, checkpoint, trigger)

  private def sink(df: DataFrame, outDir: String, checkpoint: String,
                   trigger: Trigger): StreamingQuery = {
    StreamDefaults.install(df.sparkSession)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .partitionBy("lang")
      .format("parquet")
      .option("path", outDir)
      .start()
  }
}
