package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.model.Schemas
import graft.sources.Connectors
import graft.streaming.{AlertSink, CorpusStream, MinuteStream}

/** Operational entry point — the deployable job that composes
  * connectors, parsing, streaming, and sinks end-to-end, mirroring the
  * reference's dispatcher (/root/reference/edge_runner.py:26,51-64:
  * `--mode stream|batch|meta`).
  *
  * Differences by design: the producer side (REST/WebSocket harvesting,
  * Kafka topic creation) is pre-Spark and out of engine scope (SURVEY
  * §2.1 S8), so `--in` names an existing source — a Kafka topic
  * (`kafka://host:port/topic`), a graftlog directory (`log:/dir` —
  * the DSv2 source with Kafka-shaped per-partition offsets, the
  * sandbox-runnable topic twin), or a directory of JSON lines
  * (`file:/dir`; Structured Streaming's file source gives the same
  * unbounded-table semantics as a topic). Sinks
  * are partitioned parquet under `--out`, or JDBC when `--jdbc-url` is
  * given (the reference's Postgres tables: `stock_bars` append,
  * `company_data` overwrite — spark/utilities.py:50-60).
  *
  * Usage:
  * {{{
  * runMain graft.tools.EdgeRunner --mode batch  --in file:/data/ohlcv --out /tmp/out
  * runMain graft.tools.EdgeRunner --mode meta   --in kafka://broker:9092/stock_meta --jdbc-url jdbc:...
  * runMain graft.tools.EdgeRunner --mode stream --in kafka://broker:9092/stream_stock \
  *   --out /tmp/out --checkpoint /tmp/ckpt --webhook https://hooks.slack.example/T/K
  * runMain graft.tools.EdgeRunner --mode stream --in log:/var/log/trades \
  *   --out /tmp/out --checkpoint /tmp/ckpt --drain true   // catch-up: drain backlog, exit
  * // the daily dedup cycle (all three replay-idempotent):
  * runMain graft.tools.EdgeRunner --mode dedup    --in file:/in/day7 --out /data \
  *   --known-keys /data/keys
  * runMain graft.tools.EdgeRunner --mode maintain --in parquet:/data/corpus_docs \
  *   --known-keys /data/keys --ingest-id day7
  * runMain graft.tools.EdgeRunner --mode compact  --in unused: \
  *   --known-keys /data/keys --keep-last 3
  * // ANN maintenance cadence:
  * runMain graft.tools.EdgeRunner --mode recall-check --in unused: \
  *   --index corpus_ivf --warehouse /data/wh --k 10 --nprobe 2 --min-recall 0.9
  * // on a RETRAIN verdict — routing drift (coarse quantizer rebuild):
  * runMain graft.tools.EdgeRunner --mode retrain --in unused: \
  *   --index corpus_ivf --warehouse /data/wh --centroids 16
  * // ...or encoding drift (PQ codebooks re-learned, postings re-encoded):
  * runMain graft.tools.EdgeRunner --mode retrain --in unused: \
  *   --index corpus_ivf --pq corpus_pq --dim 64 --warehouse /data/wh
  * // deletion propagation (right-to-be-forgotten), every doc-keyed store
  * // (incl. the family's _clusters member when maintained):
  * runMain graft.tools.EdgeRunner --mode forget --ids 5,9 \
  *   --in parquet:/data/corpus_docs --partition-by lang,ingest_id \
  *   --table corpus_nd --index corpus_ivf --pq corpus_pq --warehouse /data/wh
  * // bulk purge: delist a whole source at the compaction cadence:
  * runMain graft.tools.EdgeRunner --mode forget --source badsrc \
  *   --in parquet:/data/corpus_docs --partition-by lang,ingest_id \
  *   --table corpus_nd --warehouse /data/wh
  * // cluster-assignment lifecycle (bootstrap, then per-ingest fold):
  * runMain graft.tools.EdgeRunner --mode cluster --in parquet:/data/corpus_docs \
  *   --table corpus_nd --sim-threshold 0.5 --warehouse /data/wh
  * runMain graft.tools.EdgeRunner --mode cluster --in parquet:/data/corpus_docs \
  *   --table corpus_nd --sim-threshold 0.5 --ingest-id day7 --warehouse /data/wh
  * // classifier lifecycle: bootstrap-train once, then score/stream
  * // from the PERSISTED model (no retrain per run):
  * runMain graft.tools.EdgeRunner --mode train --in file:/data/corpus \
  *   --model corpus_lr --warehouse /data/wh
  * runMain graft.tools.EdgeRunner --mode classify --in file:/data/corpus \
  *   --model corpus_lr --out /data/scored --warehouse /data/wh
  * runMain graft.tools.EdgeRunner --mode corpus --in log:/var/log/docs \
  *   --model corpus_lr --out /data/landed --checkpoint /ckpt/corpus \
  *   --warehouse /data/wh
  * // one-stop deployment dashboard (family x ingest x status + recall):
  * runMain graft.tools.EdgeRunner --mode status --in unused: \
  *   --manifest /data/deployment.manifest --warehouse /data/wh --grace-sec 900
  * }}}
  */
object EdgeRunner {
  case class Config(
    mode: String,
    in: String,
    out: String = "",
    checkpoint: String = "",
    jdbcUrl: Option[String] = None,
    dbMode: String = "append",        // reference --dbmode, applies to bars
    threshold: Double = graft.operators.Metrics.AnomalyThreshold,
    webhook: Option[String] = None,
    timeoutSec: Option[Long] = None,  // stream mode: stop after N seconds
    known: String = "",               // dedup mode: known-corpus parquet dir
    knownKeys: String = "",           // dedup mode: persisted key-table dir
    dims: Seq[String] = Nil,          // zorder mode: columns to interleave
    bits: Int = 16,                   // zorder mode: bits per dimension
    files: Int = 64,                  // zorder mode: output file count
    simThreshold: Double = 0.7,       // neardup mode: est-Jaccard suppress cutoff
    ttlMin: Long = 10,                // neardup mode: state TTL (minutes)
    bands: Int = 1,                   // neardup mode: blocking bands (recall 1-(1-j)^b)
    drain: Boolean = false,           // stream/corpus: AvailableNow catch-up
    ingestId: String = "",            // maintain mode: replay key (defaults to hash of --in)
    index: String = "",               // recall-check mode: IVF index table prefix
    warehouse: String = "",           // recall-check/compact: spark.sql.warehouse.dir
    k: Int = 10,                      // recall-check mode: top-k depth
    nProbe: Int = 2,                  // recall-check mode: probed cells
    sample: Int = 64,                 // recall-check mode: sampled query count
    minRecall: Double = 0.9,          // recall-check mode: retrain verdict threshold
    table: String = "",               // compact mode: bucketed table + comma keys
    keepLast: Int = 1,                // compact mode: ingest partitions left intact
    partitionBy: Seq[String] = Seq("ingest_id"), // compact mode: dir layout
    pq: String = "",                  // recall-check: PQ prefix -> check the IVF-ADC path
    shortlist: Int = 32,              // recall-check (ADC): rerank shortlist size
    dim: Int = 64,                    // recall-check (ADC): embedding dimension
    centroids: Int = 16,              // retrain mode: coarse-quantizer size
    repair: Boolean = false,          // audit mode: heal flagged ingests in place
    residual: Boolean = false,        // recall-check/retrain --pq: residual-coded postings
    ids: Seq[Long] = Nil,             // forget mode: doc ids to delete everywhere
    commits: String = "",             // audit mode: family prefix with a _commits table
    graceSec: Long = 900L,            // audit mode: in-flight vs crashed window
    source: String = "",              // forget mode: bulk purge a whole source
    lex: String = "",                 // forget mode: lexical-index family prefix
    fingerprints: String = "",        // forget mode: refcounted fp family prefix
    manifest: String = "",            // status mode: deployment manifest file
    rcBootstrap: Boolean = false,     // maintain: count the FULL landing into a new rc family
    model: String = "",               // train/classify/corpus: persisted LR model family prefix
    rounds: Int = 4)                  // train mode: GD rounds

  def parse(args: Array[String]): Config = {
    require(args.length % 2 == 0,
      s"dangling argument '${args.last}' — flags take exactly one value")
    val kv = args.grouped(2).collect { case Array(k, v) =>
      require(k.startsWith("--"), s"expected a --flag, got '$k'")
      require(!v.startsWith("--"),
        s"flag $k is missing its value (found '$v')")
      k -> v
    }.toMap
    val mode = kv.getOrElse("--mode",
      sys.error("--mode batch|stream|meta|corpus|dedup|maintain|zorder|classify|" +
        "neardup|recall-check|compact|audit|retrain|forget|cluster|lexical|" +
        "index|status|train is required"))
    require(
      Set("batch", "stream", "meta", "corpus", "dedup", "maintain", "zorder",
        "classify", "neardup", "recall-check", "compact", "audit", "retrain",
        "forget", "cluster", "lexical", "index", "status", "train")(mode),
      s"unknown mode $mode")
    Config(
      mode = mode,
      in = kv.getOrElse("--in", sys.error("--in kafka://host:port/topic | file:/dir")),
      out = kv.getOrElse("--out", ""),
      checkpoint = kv.getOrElse("--checkpoint", ""),
      jdbcUrl = kv.get("--jdbc-url"),
      dbMode = kv.getOrElse("--dbmode", "append"),
      threshold = kv.get("--threshold").map(_.toDouble)
        .getOrElse(graft.operators.Metrics.AnomalyThreshold),
      webhook = kv.get("--webhook"),
      timeoutSec = kv.get("--timeout-sec").map(_.toLong),
      known = kv.getOrElse("--known", ""),
      knownKeys = kv.getOrElse("--known-keys", ""),
      dims = kv.get("--dims").map(_.split(",").toSeq.map(_.trim)).getOrElse(Nil),
      bits = kv.get("--bits").map(_.toInt).getOrElse(16),
      files = kv.get("--files").map(_.toInt).getOrElse(64),
      simThreshold = kv.get("--sim-threshold").map(_.toDouble).getOrElse(0.7),
      ttlMin = kv.get("--ttl-min").map(_.toLong).getOrElse(10L),
      bands = kv.get("--bands").map(_.toInt).getOrElse(1),
      drain = kv.get("--drain").exists(_.toBoolean),
      ingestId = kv.getOrElse("--ingest-id", ""),
      index = kv.getOrElse("--index", ""),
      warehouse = kv.getOrElse("--warehouse", ""),
      k = kv.get("--k").map(_.toInt).getOrElse(10),
      nProbe = kv.get("--nprobe").map(_.toInt).getOrElse(2),
      sample = kv.get("--sample").map(_.toInt).getOrElse(64),
      minRecall = kv.get("--min-recall").map(_.toDouble).getOrElse(0.9),
      table = kv.getOrElse("--table", ""),
      keepLast = kv.get("--keep-last").map(_.toInt).getOrElse(1),
      partitionBy = kv.get("--partition-by")
        .map(_.split(",").toSeq.map(_.trim)).getOrElse(Seq("ingest_id")),
      pq = kv.getOrElse("--pq", ""),
      shortlist = kv.get("--shortlist").map(_.toInt).getOrElse(32),
      dim = kv.get("--dim").map(_.toInt).getOrElse(64),
      centroids = kv.get("--centroids").map(_.toInt).getOrElse(16),
      repair = kv.get("--repair").exists(_.toBoolean),
      residual = kv.get("--residual").exists(_.toBoolean),
      ids = kv.get("--ids")
        .map(_.split(",").toSeq.map(_.trim.toLong)).getOrElse(Nil),
      commits = kv.getOrElse("--commits", ""),
      graceSec = kv.get("--grace-sec").map(_.toLong).getOrElse(900L),
      source = kv.getOrElse("--source", ""),
      lex = kv.getOrElse("--lex", ""),
      fingerprints = kv.getOrElse("--fingerprints", ""),
      manifest = kv.getOrElse("--manifest", ""),
      rcBootstrap = kv.get("--rc-bootstrap").exists(_.toBoolean),
      model = kv.getOrElse("--model", ""),
      rounds = kv.get("--rounds").map(_.toInt).getOrElse(4))
  }

  /** One raw-JSON column `json`, batch flavor, from any source kind.
    * `log:/dir` is the graftlog DSv2 source — Kafka-shaped offsets
    * without a broker (the sandbox-runnable topic twin). */
  private def readBatchJson(spark: SparkSession, in: String): DataFrame = in match {
    case s if s.startsWith("kafka://") =>
      val (servers, topic) = splitKafka(s)
      Connectors.kafkaBatch(spark, servers, topic)
        .selectExpr("CAST(value AS STRING) AS json")
    case s if s.startsWith("log:") =>
      Connectors.logBatch(spark, s.stripPrefix("log:"))
        .selectExpr("value AS json")
    case s if s.startsWith("file:") =>
      spark.read.textFile(s.stripPrefix("file:")).toDF("json")
    case other => sys.error(s"unsupported --in $other")
  }

  /** Streaming envelopes with the `value` column MinuteStream expects. */
  private def readStreamEnvelopes(spark: SparkSession, in: String): DataFrame = in match {
    case s if s.startsWith("kafka://") =>
      val (servers, topic) = splitKafka(s)
      Connectors.kafkaStream(spark, servers, topic)
    case s if s.startsWith("log:") =>
      Connectors.logStream(spark, s.stripPrefix("log:"))
    case s if s.startsWith("file:") =>
      spark.readStream.text(s.stripPrefix("file:"))
    case other => sys.error(s"unsupported --in $other")
  }

  private def splitKafka(uri: String): (String, String) = {
    val rest = uri.stripPrefix("kafka://")
    val slash = rest.lastIndexOf('/')
    require(slash > 0, s"expected kafka://host:port/topic, got $uri")
    (rest.substring(0, slash), rest.substring(slash + 1))
  }

  /** JSON lines → typed rows (reference read_kafka, stock_batch.py:34-51:
    * cast value, from_json against the explicit schema, flatten). */
  private def parseJson(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(from_json(col("json"), schema).as("data")).select("data.*")

  /** Typed document rows from any batch input: `parquet:/dir` reads an
    * ALREADY-TYPED parquet directory — the kept-docs output a prior
    * `--mode dedup` run landed, which is exactly what `--mode maintain`
    * must consume (feeding it the raw JSON batch would also append keys
    * for docs dedup DROPPED, so never-landed content would suppress
    * future ingests) — anything else is raw JSON lines / a topic parsed
    * against `Schemas.document`. */
  private def readDocs(spark: SparkSession, in: String): DataFrame = in match {
    case s if s.startsWith("parquet:") =>
      spark.read.parquet(s.stripPrefix("parquet:"))
    case other => parseJson(readBatchJson(spark, other), Schemas.document)
  }

  /** Sink dispatch: JDBC named table when configured, else partitioned
    * parquet under out/<table> (reference write_stock_bars /
    * write_company_data, spark/utilities.py:50-60). */
  private def writeTable(cfg: Config, df: DataFrame, table: String,
                         mode: SaveMode, partitionBy: Seq[String]): Unit =
    cfg.jdbcUrl match {
      case Some(url) => Connectors.writeJdbc(df, url, table, mode)
      case None =>
        require(cfg.out.nonEmpty, "--out is required without --jdbc-url")
        Connectors.writeParquet(df, s"${cfg.out}/$table", partitionBy, mode)
    }

  private def saveMode(s: String): SaveMode =
    if (s == "overwrite") SaveMode.Overwrite else SaveMode.Append

  /** Write, then count the SAME snapshot: without the persist, the
    * count would re-run the source read — a second full scan whose
    * Kafka offsets can differ from what was written. */
  private def writeAndCount(cfg: Config, df: DataFrame, table: String,
                            mode: SaveMode, partitionBy: Seq[String]): Long = {
    df.persist()
    try {
      writeTable(cfg, df, table, mode, partitionBy)
      df.count()
    } finally { df.unpersist(); () }
  }

  /** `--mode batch`: OHLCV bars → stock_bars (load_batch_ohlcv). */
  def runBatch(spark: SparkSession, cfg: Config): Long =
    writeAndCount(cfg, parseJson(readBatchJson(spark, cfg.in), Schemas.bar),
      "stock_bars", saveMode(cfg.dbMode), Seq("symbol"))

  /** `--mode meta`: company dimension → company_data, overwrite
    * (load_batch_meta; the reference always overwrites the dim). */
  def runMeta(spark: SparkSession, cfg: Config): Long =
    writeAndCount(cfg, parseJson(readBatchJson(spark, cfg.in), Schemas.company),
      "company_data", SaveMode.Overwrite, Seq.empty)

  /** `--mode stream`: envelopes → minute bars + metrics + alerts
    * (run_minute_stream_metric). Returns the running query. */
  def startStream(spark: SparkSession, cfg: Config,
                  trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery = {
    require(cfg.out.nonEmpty && cfg.checkpoint.nonEmpty,
      "--out and --checkpoint are required in stream mode")
    val sink = cfg.webhook.map(u => AlertSink.webhook(u)).getOrElse(AlertSink.noop)
    MinuteStream.start(readStreamEnvelopes(spark, cfg.in), cfg.checkpoint,
      cfg.out, trigger, cfg.threshold, sink.onAlert)
  }

  /** `--mode dedup`: incremental batch-vs-corpus dedup — incoming docs
    * (JSON lines or a topic, `Schemas.document`) are anti-joined
    * against the known corpus's content hashes and MinHash band keys
    * ([[graft.operators.Dedup.incrementalKeep]]); survivors land in
    * `corpus_docs` under (lang, ingest_id) partitions via dynamic
    * partition overwrite — lang-prunable AND replay-idempotent (a
    * retried run replaces its own docs; `--ingest-id` or the path-hash
    * default, as in maintain mode). Beyond the reference's surface —
    * the batch front door of the LLM ingest pipeline. */
  def runDedup(spark: SparkSession, cfg: Config): Long = {
    require(cfg.known.nonEmpty || cfg.knownKeys.nonEmpty,
      "dedup mode requires --known (corpus parquet) or --known-keys " +
        "(persisted Dedup.knownKeys table)")
    // corrupt JSON lines surface as all-null PERMISSIVE rows;
    // incrementalKeep drops null id/text itself. (Content-quality
    // gating beyond that composes upstream — the streaming twin's
    // CorpusStream gate.)
    val incoming = readDocs(spark, cfg.in)
    // --known-keys wins: the persisted key table is the production path
    // (each ingest appends its survivors' keys; the corpus text is
    // never re-fingerprinted)
    val kept =
      if (cfg.knownKeys.nonEmpty)
        graft.operators.Dedup.incrementalKeepWithKeys(incoming,
          spark.read.parquet(cfg.knownKeys), "doc_id", "text")
      else
        graft.operators.Dedup.incrementalKeep(incoming,
          spark.read.parquet(cfg.known), "doc_id", "text")
    // the LANDING is replay-idempotent too (parquet path): kept docs
    // live under (lang, ingest_id) partitions — lang stays the
    // top-level pruning key; the ingest stamp makes a retried dedup
    // replace its own docs instead of landing them twice (the same
    // at-least-once hole the key-table appends had). JDBC keeps the
    // reference's plain append/overwrite semantics.
    cfg.jdbcUrl match {
      case Some(_) =>
        writeAndCount(cfg, kept, "corpus_docs", saveMode(cfg.dbMode), Seq("lang"))
      case None =>
        require(cfg.out.nonEmpty, "--out is required without --jdbc-url")
        val stamped = kept.withColumn("ingest_id", lit(ingestIdOf(cfg))).persist()
        try {
          if (cfg.dbMode == "overwrite")
            Connectors.writeParquet(stamped, s"${cfg.out}/corpus_docs",
              Seq("lang", "ingest_id"), SaveMode.Overwrite)
          else
            Connectors.overwritePartitions(stamped, s"${cfg.out}/corpus_docs",
              Seq("lang", "ingest_id"))
          stamped.count()
        } finally { stamped.unpersist(); () }
    }
  }

  /** `--mode maintain`: the per-ingest maintenance step that closes
    * the dedup loop — compute [[graft.operators.Dedup.knownKeys]] for
    * the just-landed batch and land them in the `--known-keys` parquet
    * key-table dir. `--in parquet:/out/corpus_docs` feeds the kept
    * docs a prior `--mode dedup` run wrote (the correct input: keys of
    * what LANDED, not of what arrived — raw JSON input also works for
    * the bootstrap over an existing corpus, or when the batch was
    * landed verbatim). When the input carries an `ingest_id` column
    * (the SHARED landing dir every day's dedup writes into), only the
    * docs landed under THIS run's ingest id are keyed — run dedup and
    * maintain with the same `--ingest-id` and the pair composes
    * partition-pruned, O(batch) per day. REPLAY-IDEMPOTENT: the keys land under an
    * `ingest_id=` partition via dynamic partition overwrite, so a
    * crashed-and-retried maintain replaces its own partition instead
    * of double-appending; the id is `--ingest-id` when given (use the
    * date / batch number), else derived from a hash of `--in` — which
    * is deterministic per retry but REQUIRES per-batch input paths
    * (reusing one path for successive batches without `--ingest-id`
    * would overwrite the previous batch's keys). The next day's
    * `--mode dedup` joins against keys only; corpus text is never
    * re-fingerprinted. Returns the number of key rows landed. */
  def runMaintain(spark: SparkSession, cfg: Config): Long = {
    require(cfg.knownKeys.nonEmpty,
      "maintain mode requires --known-keys (the parquet key-table dir to append to)")
    val raw = readDocs(spark, cfg.in)
    // a SHARED landing dir (every day's dedup writes the same
    // corpus_docs) carries its own ingest_id partitions: maintain for
    // ingest X keys exactly the docs landed UNDER X — one
    // partition-pruned scan, O(batch) at 100 TB, never a re-key of the
    // whole corpus. Inputs without the column (raw JSON, a per-batch
    // dir, the bootstrap over an existing corpus) are taken whole.
    val scoped =
      if (raw.columns.contains("ingest_id")) {
        // fail fast without an explicit id: the path-hash default is
        // derived from the LANDING's path, which no landed partition
        // was stamped with — the filter below would silently select
        // nothing and the maintain would "succeed" with 0 keys
        require(cfg.ingestId.nonEmpty,
          "maintain over an ingest-partitioned landing requires an " +
            "explicit --ingest-id (the id the day's dedup ran with)")
        // plain equality, NOT a cast of the column: the literal
        // coerces to whatever type partition inference gave the
        // column (all-date id sets come back as DateType), and the
        // untouched partition column is what lets the scan prune
        raw.filter(col("ingest_id") === ingestIdOf(cfg)).drop("ingest_id")
      } else raw
    val batch = scoped
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
    val keys = graft.operators.Dedup.knownKeys(batch, "text")
      .localCheckpoint(false)
    val n = keys.count()
    Connectors.overwritePartitions(
      keys.withColumn("ingest_id", lit(ingestIdOf(cfg))),
      cfg.knownKeys, Seq("ingest_id"))
    // strict-erasure deployments also maintain the refcounted
    // fingerprint family (--fingerprints <rcName>): EXPLICIT bootstrap
    // (--rc-bootstrap true counts the FULL landing — every holder,
    // every prior ingest), per-ingest ledger append after — same
    // replay key as the key dir, so the two families stay in lockstep
    if (cfg.fingerprints.nonEmpty) {
      // the bootstrap lands under the SAME replay key the retry's
      // append would use: a "base"-keyed bootstrap that crashed after
      // the write would change the replay key on retry (table now
      // exists → append branch) and double-count the batch
      val rcIngest = ingestIdOf(cfg)
      val rcTable = s"${cfg.fingerprints}_normrc"
      if (cfg.rcBootstrap) {
        // the bootstrap must count the WHOLE landing, not this run's
        // batch: enabling --fingerprints on a deployment with an
        // existing corpus from a current-batch-only ledger would leave
        // prior holders uncounted, so forgetting one old holder drives
        // the key's sum ≤ 0 and erases/readmits content that still has
        // landed copies. Retry-safe: a crashed bootstrap re-run with
        // the flag overwrites its own partition (same replay key) —
        // but an established family (any OTHER ingest partition
        // present) must refuse, or the full-landing recount would
        // double every already-appended holder.
        if (spark.catalog.tableExists(rcTable)) {
          import spark.implicits._
          val others = spark.table(rcTable).select("ingest_id").distinct()
            .as[String].collect().filterNot(_ == rcIngest)
          require(others.isEmpty,
            s"--rc-bootstrap on established rc family $rcTable (ingests: " +
              s"${others.sorted.mkString(", ")}) would double-count every " +
              "already-appended holder — bootstrap exactly once, before " +
              "the first per-ingest append")
        }
        graft.operators.Dedup.saveRcFingerprints(spark, cfg.fingerprints,
          raw.filter(col("text").isNotNull), "text", ingestId = rcIngest)
        // record WHICH landing ingests the full count covered: a later
        // plain append for one of them (e.g. backfilling the key dir
        // for a pre-bootstrap day with --fingerprints riding the
        // standard flags) would land that ingest's holders a SECOND
        // time — rc inflation, content that must erase staying live.
        // The property survives compaction (compactIngests copies
        // graft.* pins to the side table).
        val covered: Set[String] =
          if (raw.columns.contains("ingest_id")) {
            import spark.implicits._
            raw.select(col("ingest_id").cast("string")).distinct()
              .as[String].collect().toSet + rcIngest
          } else Set(rcIngest)
        spark.sql(s"ALTER TABLE $rcTable SET TBLPROPERTIES " +
          s"('graft.rc_bootstrap_covered' = " +
          s"'${covered.toSeq.sorted.mkString(",").replace("'", "''")}')")
      } else {
        // the implicit-append path FAILS when the family is missing:
        // silently bootstrapping from the current batch only is the
        // under-count trap described above
        require(spark.catalog.tableExists(rcTable),
          s"rc family $rcTable does not exist — run this maintain once " +
            "with --rc-bootstrap true to count the full landing's " +
            "existing holders first (a current-batch-only bootstrap " +
            "would leave prior holders uncounted and let a single " +
            "forget erase content that still has landed copies)")
        val covered =
          try spark.sql(
              s"SHOW TBLPROPERTIES $rcTable ('graft.rc_bootstrap_covered')")
            .collect().headOption.map(_.getString(1))
            .filterNot(_.contains("does not"))
            .map(_.split(",").toSet).getOrElse(Set.empty[String])
          catch { case _: Exception => Set.empty[String] }
        require(!covered(rcIngest),
          s"ingest '$rcIngest' was already counted by the full-landing " +
            "--rc-bootstrap — appending it again would double-count " +
            "every holder it contributed (a bootstrap RETRY must re-run " +
            "with --rc-bootstrap true, which replays idempotently)")
        graft.operators.Dedup.appendRcFingerprints(spark, cfg.fingerprints,
          batch, "text", rcIngest)
      }
      if (graft.sources.FamilyCommit.enabled(spark, cfg.fingerprints))
        graft.sources.FamilyCommit.commit(spark, cfg.fingerprints, rcIngest)
    }
    n
  }

  /** The maintain/recall replay key: explicit `--ingest-id`, else a
    * deterministic hash of the input path (stable across retries of
    * the same batch, distinct across per-batch input dirs). Hash ids
    * do NOT sort by time — retry determinism forbids a timestamp
    * component (a retried batch must land under the SAME id) — so
    * compaction retention deliberately orders ingests by partition
    * write time, not id ([[graft.sources.Bucketing.newestIngestIds]]);
    * prefer explicit date / batch-number ids where a pipeline has
    * them, for listings and range predicates that read. */
  private def ingestIdOf(cfg: Config): String =
    if (cfg.ingestId.nonEmpty) cfg.ingestId
    else "in_" + java.security.MessageDigest.getInstance("MD5")
      .digest(cfg.in.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  /** `--mode corpus`: streaming corpus ingestion (quality gate +
    * watermarked content dedup → lang-partitioned parquet). With
    * `--known`, already-landed content is dropped too (stream-static
    * anti-join on the corpus's fingerprints). Beyond the reference's
    * surface — the LLM-pipeline counterpart of `stream`. */
  def startCorpus(spark: SparkSession, cfg: Config,
                  trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery = {
    require(cfg.out.nonEmpty && cfg.checkpoint.nonEmpty,
      "--out and --checkpoint are required in corpus mode")
    // persisted: the static side of a stream-static join re-executes
    // every micro-batch — unpersisted, each trigger would rescan the
    // whole corpus and recompute fingerprints
    val knownKeys = Option(cfg.known).filter(_.nonEmpty)
      .map(p => CorpusStream.knownFingerprints(spark.read.parquet(p)).persist())
    // --model <family>: admission gates on the PERSISTED trained
    // classifier instead of the heuristic — weights load once here at
    // stream start (≤ 4097 rows), each micro-batch scores via the
    // stateless per-row decimal gate (≡ batch logisticApply's sign)
    if (cfg.model.nonEmpty)
      CorpusStream.startTrained(readStreamEnvelopes(spark, cfg.in), cfg.out,
        cfg.checkpoint, loadModelOrExplain(spark, cfg.model), trigger,
        knownKeys = knownKeys)
    else
      CorpusStream.start(readStreamEnvelopes(spark, cfg.in), cfg.out,
        cfg.checkpoint, trigger, knownKeys = knownKeys)
  }

  /** `--mode neardup`: streaming NEAR-duplicate suppression — the
    * fuzzier sibling of `corpus` (which drops EXACT re-posts): arriving
    * docs whose estimated Jaccard vs a recently-admitted doc is >=
    * `--sim-threshold` are dropped before landing (minhash-bucket
    * blocking + signature verify, state TTL'd at `--ttl-min`;
    * `--bands b` probes b buckets per doc, lifting blocking recall to
    * 1−(1−j)^b at b× the state). Needs
    * the RocksDB state store, set here like any transformWithState
    * deployment would.
    *
    * With `--known-keys`, the sink additionally CLOSES the
    * stream→corpus loop: each micro-batch's survivors land via
    * [[landAndMaintain]], which also appends their dedup keys to the
    * key dir `--mode dedup` consumes — a doc the stream admitted at
    * 10:00 suppresses its re-post in the 10:05 BATCH ingest too, not
    * just within the stream's TTL window. Both writes are
    * batch_id-keyed dynamic partition overwrites (the
    * MinuteStream.writeBatch replay discipline). */
  def startNearDup(spark: SparkSession, cfg: Config,
                   trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery = {
    require(cfg.out.nonEmpty && cfg.checkpoint.nonEmpty,
      "--out and --checkpoint are required in neardup mode")
    // the CLI's JSON docs carry no embeddings, and the suppressor's
    // state classes key on (doc_id, text, ts) — the IVF loop-closure
    // leg is the landAndMaintain API for orchestrators whose batches
    // DO carry a vec column (compose your own foreachBatch)
    require(cfg.index.isEmpty,
      "--index on the neardup sink needs embeddings riding the stream; " +
        "compose landAndMaintain(ivfName = ...) in a custom foreachBatch")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.streaming.TtlState.RocksDbProvider)
    graft.streaming.StreamDefaults.install(spark)
    // DRAIN TERMINATION: transformWithState under processing-time TTL
    // answers shouldRunAnotherBatch=true unconditionally, so with the
    // default no-data-micro-batches policy a `--drain`
    // (Trigger.AvailableNow) run never stops — after the offsets
    // drain it spins EMPTY micro-batches forever, each paying a full
    // RocksDB checkpoint upload (observed: 700+ empty batches on a
    // 5k-doc drain before the round-15 fix). The suppressor needs no
    // no-data batches — TTL eviction is lazy on access, not
    // timer-driven — so the catch-up path disables them; the
    // steady-state ProcessingTime path keeps the default (a no-data
    // batch there is harmless and keeps watermark-style consumers
    // conventional). The override is scoped to THIS query: the stream
    // snapshots session conf at start(), and the finally restores the
    // session value so a later ProcessingTime stream started on the
    // same session is untouched. Spec-locked: "neardup --drain
    // terminates".
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val savedNoData =
      if (trigger == Trigger.AvailableNow()) {
        val prev = spark.conf.getOption(noDataKey)
        spark.conf.set(noDataKey, "false")
        Some(prev)
      } else None
    try {
      val docs = CorpusStream.parseDocs(readStreamEnvelopes(spark, cfg.in))
        .select("doc_id", "text", "ts")
      val writer = graft.streaming.NearDupStream.suppress(docs,
          ttl = java.time.Duration.ofMinutes(cfg.ttlMin),
          threshold = cfg.simThreshold, bands = cfg.bands)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", cfg.checkpoint)
        .trigger(trigger)
      if (cfg.knownKeys.isEmpty)
        writer.format("parquet").option("path", cfg.out).start()
      else
        writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
          landAndMaintain(batch, batchId, cfg.out, cfg.knownKeys,
            lexPrefix = Option(cfg.lex).filter(_.nonEmpty))
        }.start()
    } finally savedNoData.foreach {
      case Some(v) => spark.conf.set(noDataKey, v)
      case None => spark.conf.unset(noDataKey)
    }
  }

  /** The neardup sink's batch body — public so the replay contract is
    * directly testable (call twice with one id): land the surviving
    * docs under a `batch_id=` partition AND append their
    * [[graft.operators.Dedup.knownKeys]] to the batch-dedup key dir
    * under `ingest_id=stream<batchId>`. Both dynamic partition
    * overwrites: a replayed micro-batch (crash after write, before the
    * checkpoint commit) replaces its own partitions — no duplicate
    * docs, no duplicate keys.
    *
    * `lexPrefix` / `ivfName` CLOSE THE STREAM→RETRIEVAL LOOP: without
    * them, a stream-admitted doc lands in the corpus and suppresses
    * re-posts, but stays invisible to s16/BM25 and the ANN probes
    * until someone separately runs `--mode lexical` / `--mode index`
    * — the reference's whole shape is stream-to-queryable
    * (/root/reference/spark/jobs/stock_stream.py:169-192 writes
    * metrics consumers read immediately), and the retrieval stores
    * deserve the same property. With `lexPrefix`, each micro-batch's
    * survivors ALSO append to the `{prefix}_post`/`_lexstats` lexical
    * family; with `ivfName` (batches must carry a `vec` column), to
    * the IVF assignments — both under the SAME zero-padded
    * `stream<batchId>` ingest id as the keys, so the whole batch is
    * one replay unit. After each family's last member write, its
    * commit marker lands (only for families ALREADY enforcing markers
    * — this body never flips a legacy-open family to enforced), so a
    * crash mid-batch leaves the half-landed ingest invisible to
    * bm25FromTables / ivfTopK until the replay completes it.
    *
    * CROSS-family atomicity: the two family markers land SEQUENTIALLY
    * (lexical, then IVF), so a crash BETWEEN the commits leaves the
    * batch committed in one family only. Per-family readers are
    * correct in that window by each family's own contract; a COMPOSED
    * reader (hybrid retrieval fusing both legs) must gate each leg on
    * the intersection of both families' committed sets —
    * `bm25FromTables(..., coFamilies = Seq(ivfName))` and
    * `loadIvfIndex(..., coFamilies = Seq(lexPrefix))`
    * ([[graft.sources.FamilyCommit.visibleAcross]]) — so the batch
    * enters BOTH legs atomically when its LAST marker lands and fused
    * ranks never mix a half-committed batch. The window is healed by
    * the replay (same batch, same ingest id, idempotent overwrites,
    * markers re-land in order); spec-locked in CrossFamilySpec. */
  def landAndMaintain(batch: DataFrame, batchId: Long, outDir: String,
                      keysDir: String,
                      lexPrefix: Option[String] = None,
                      ivfName: Option[String] = None): Unit = {
    batch.persist()
    try {
      Connectors.overwritePartitions(
        batch.withColumn("batch_id", lit(batchId)), outDir, Seq("batch_id"))
      // version-boundary replay safety: a batch that first landed under
      // the LEGACY unpadded id (`stream<N>`) and is replayed after the
      // zero-padded writer shipped would otherwise land under a second,
      // different partition — duplicating its keys. The replayed batch
      // carries the same rows, so dropping the legacy partition before
      // the padded overwrite IS the migration; a batch never replayed
      // keeps its legacy partition untouched (compaction retention is
      // write-time-ordered, so the two formats coexist harmlessly).
      val legacy = new org.apache.hadoop.fs.Path(keysDir, s"ingest_id=stream$batchId")
      val fs = legacy.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(legacy)) { fs.delete(legacy, true); () }
      Connectors.overwritePartitions(
        graft.operators.Dedup.knownKeys(batch, "text")
          // zero-padded so stream ids sort by time like date ids do
          // (unpadded, "stream10" < "stream9" lexically); compaction
          // retention orders by partition write time regardless, but
          // human-readable listings and range predicates deserve ids
          // that sort
          .withColumn("ingest_id", lit(f"stream$batchId%012d")),
        keysDir, Seq("ingest_id"))
      // stream→retrieval loop closure: same ingest id, same replay
      // discipline (dynamic partition overwrite per family member),
      // marker after each family's LAST member write. An empty
      // micro-batch lands nothing and commits nothing — there is no
      // ingest to mark.
      val ingest = f"stream$batchId%012d"
      val spark = batch.sparkSession
      if (!batch.isEmpty) {
        lexPrefix.foreach { prefix =>
          graft.operators.TextAnalysis.appendLexicalIndex(spark, prefix,
            batch, "doc_id", "text", ingestId = ingest)
          if (graft.sources.FamilyCommit.enabled(spark, prefix))
            graft.sources.FamilyCommit.commit(spark, prefix, ingest)
        }
        ivfName.foreach { name =>
          require(batch.columns.contains("vec"),
            s"--index $name on the stream sink needs a 'vec' column " +
              "riding the stream (doc embeddings)")
          graft.operators.Similarity.appendToIvfIndex(spark, name,
            batch.select(col("doc_id").as("id"), col("vec")), ingest)
          if (graft.sources.FamilyCommit.enabled(spark, name))
            graft.sources.FamilyCommit.commit(spark, name, ingest)
        }
      }
    } finally { batch.unpersist(); () }
  }

  private def triggerOf(cfg: Config): Trigger =
    if (cfg.drain) Trigger.AvailableNow()
    else Trigger.ProcessingTime("1 minute")

  private def await(q: StreamingQuery, timeoutSec: Option[Long]): Unit =
    timeoutSec match {
      case Some(t) => q.awaitTermination(t * 1000L); q.stop()
      case None    => q.awaitTermination()
    }

  def run(spark: SparkSession, cfg: Config): Unit = cfg.mode match {
    case "batch"  => println(s"[edge] stock_bars rows: ${runBatch(spark, cfg)}")
    case "meta"   => println(s"[edge] company_data rows: ${runMeta(spark, cfg)}")
    case "dedup"  => println(s"[edge] corpus_docs rows kept: ${runDedup(spark, cfg)}")
    case "maintain" => println(s"[edge] key rows appended: ${runMaintain(spark, cfg)}")
    // --drain true: process exactly the backlog present at start in
    // bounded batches, then exit (Trigger.AvailableNow) — the catch-up
    // job a deployment runs after downtime, against the same
    // checkpoint the steady-state trigger will resume from.
    case "stream" => await(startStream(spark, cfg, triggerOf(cfg)), cfg.timeoutSec)
    case "corpus" => await(startCorpus(spark, cfg, triggerOf(cfg)), cfg.timeoutSec)
    case "neardup" => await(startNearDup(spark, cfg, triggerOf(cfg)), cfg.timeoutSec)
    case "zorder" => println(s"[edge] zorder files written: ${runZorder(spark, cfg)}")
    case "classify" =>
      println(s"[edge] docs scored: ${runClassify(spark, cfg)}")
    case "train" =>
      println(s"[edge] model '${cfg.model}' trained+persisted: " +
        s"${runTrain(spark, cfg)} weight rows")
    case "recall-check" =>
      val r = runRecallCheck(spark, cfg)
      println(f"[edge] recall@${r.k}=${r.recall}%.4f over ${r.nQueries} queries " +
        f"(nprobe=${r.nProbe}, floor=${r.minRecall}) verdict=" +
        (if (r.retrain) "RETRAIN" else "OK"))
    case "compact" =>
      println(s"[edge] compacted: ${runCompact(spark, cfg)}")
    case "retrain" =>
      require(cfg.index.nonEmpty, "retrain mode requires --index")
      // the ACT half of recall-check's RETRAIN verdict. Two flavors,
      // matching the monitor's two drift sources: without --pq,
      // rebuild the coarse quantizer over everything the index holds
      // (routing drift — postings fold back to one partition); with
      // --pq, re-learn the PQ codebooks and re-encode every posting
      // (encoding drift — routing untouched). Subspace count and
      // codebook size are read from the existing books: an encoding
      // retrain refreshes the model, it does not change its shape.
      if (cfg.pq.nonEmpty) {
        val old = graft.operators.Similarity.loadPqBooks(spark, cfg.pq)
        val books = graft.operators.Similarity.retrainPqBooks(spark,
          cfg.index, cfg.pq, m = old.length, codebookK = old(0).length,
          dim = cfg.dim, residual = cfg.residual)
        println(s"[edge] retrained ${cfg.pq}: ${books.length} subspaces x " +
          s"${books(0).length} codes, postings re-encoded")
      } else {
        val m = graft.operators.Similarity.retrainIvfIndex(spark, cfg.index,
          cfg.centroids)
        println(s"[edge] retrained ${cfg.index}: ${m.centroids.length} centroids")
      }
    case "forget" =>
      require(cfg.ids.isEmpty || cfg.source.isEmpty,
        "forget takes --ids (request cadence) OR --source (bulk purge " +
          "at compaction cadence), not both")
      if (cfg.source.nonEmpty)
        println(s"[edge] source '${cfg.source}' purged: " +
          s"${runPurge(spark, cfg)} doc ids across stores")
      else
        println(s"[edge] rows deleted across stores: ${runForget(spark, cfg)}")
    case "cluster" =>
      println(s"[edge] ${runCluster(spark, cfg)}")
    case "lexical" =>
      println(s"[edge] ${runLexical(spark, cfg)}")
    case "index" =>
      println(s"[edge] ${runIndex(spark, cfg)}")
    case "status" =>
      runStatus(spark, cfg) // prints the dashboard itself
    case "audit" =>
      val bad = runAudit(spark, cfg)
      if (bad.isEmpty) println("[edge] audit OK: every ingest consistent")
      else if (!cfg.repair)
        println(s"[edge] audit FAILED for ingests: ${bad.mkString(", ")} — " +
          "re-run maintain for them (idempotent), or --repair true with " +
          "--in parquet:<corpus_docs> --known-keys <key dir> to heal in place")
      else {
        val (healed, manual) = runRepair(spark, cfg, bad)
        if (healed.nonEmpty)
          println(s"[edge] repaired ingests: ${healed.mkString(", ")}")
        if (manual.nonEmpty)
          println(s"[edge] NOT repairable from landed docs (no docs " +
            s"partition): ${manual.mkString(", ")} — re-run the original " +
            "maintain for them")
        val still = runAudit(spark, cfg)
        println(if (still.isEmpty) "[edge] audit OK after repair"
          else s"[edge] audit still FAILED for: ${still.mkString(", ")}")
      }
  }

  /** `--mode forget --ids 5,9,...`: deletion propagation
    * ([[graft.operators.Forget]]) — remove the requested doc ids from
    * every doc-keyed store the pipeline maintains, each a
    * partition-targeted rewrite:
    *   - `--in parquet:<corpus landing>` (+ `--partition-by`): the
    *     landed docs themselves (durable side-dir swap per partition);
    *   - `--table <ndPrefix>`: the near-dup key family
    *     (`_ndband`/`_ndsh`, bucketed rewrite);
    *   - `--index <ivfPrefix>`: the IVF assignments;
    *   - `--pq <pqPrefix>`: the ADC postings;
    *   - `--lex <lexPrefix>`: the lexical posting family (postings
    *     deleted AND the affected ingests' corpus-scalar stats rows
    *     recomputed — idf must shrink with the corpus).
    * Content-keyed exact-dedup stores are deliberately left intact by
    * default (see [[graft.operators.Forget]] — re-posts of forgotten
    * content stay suppressed); a strict-erasure deployment passes
    * `--fingerprints <rcName>` to ALSO decrement the refcounted
    * `{rcName}_normrc` family (keys erased at zero — the opposite
    * re-post behavior, by choice). At least one target is required;
    * pass all that the deployment maintains. Returns total rows
    * deleted. */
  def runForget(spark: SparkSession, cfg: Config): Long = {
    require(cfg.ids.nonEmpty, "forget mode requires --ids id1,id2,...")
    require(cfg.in.startsWith("parquet:") || cfg.table.nonEmpty ||
      cfg.index.nonEmpty || cfg.pq.nonEmpty,
      "forget mode needs at least one target: --in parquet:<landing>, " +
        "--table <ndPrefix>, --index <ivfPrefix>, --pq <pqPrefix>")
    import graft.operators.Forget
    var n = 0L
    // refcounted-fingerprint decrement FIRST: it needs the victims'
    // TEXTS, which the landing forget below deletes. Request id is a
    // deterministic hash of (--ingest-id, sorted id set) — the hash is
    // a SAME-REQUEST retry key only (a retried request overwrites its
    // own ledger partition, replay-idempotent; a retry after the
    // landing delete is a no-op, zero matched rows). A genuinely NEW
    // request over the same doc ids (ids reused across re-posts, e.g.
    // URL-hash ids) MUST carry a distinct --ingest-id, or its negative
    // ledger rows would land in the first request's partition and
    // dynamic overwrite would REPLACE them — rc under-decremented, the
    // unsafe direction for strict erasure.
    if (cfg.fingerprints.nonEmpty) {
      require(cfg.in.startsWith("parquet:"),
        "--fingerprints needs --in parquet:<landing> — the decrement " +
          "reads the victims' texts before the landing delete")
      // MANDATORY request id: with ids reused across re-posts, two
      // genuinely distinct requests over the same id set are only
      // distinguishable by the operator-supplied id; left optional,
      // both would hash to the same ledger partition and the second's
      // dynamic overwrite would erase the first's negative rows
      require(cfg.ingestId.nonEmpty,
        "forget --fingerprints requires --ingest-id <request id> (e.g. " +
          "the ticket/date of the deletion request): it keys the " +
          "negative-ledger partition, so a RETRY of the same request " +
          "replays idempotently while a NEW request over the same doc " +
          "ids gets its own rows instead of overwriting the first's")
      // finish any PRIOR crashed forget swap before reading victims:
      // a landing partition still staged as __forgetting is invisible
      // to this read, so its victims' decrements would be silently
      // missing — and the later retry (docs deleted by then) computes
      // zero rows and can never add them back
      val landing = new org.apache.hadoop.fs.Path(
        cfg.in.stripPrefix("parquet:"))
      val lfs = landing.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Forget.recoverSwaps(lfs, lfs.makeQualified(landing))
      def md5_16(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      // MIGRATION: ledger partitions written before --ingest-id became
      // part of the key were hashed over the sorted id set ALONE. A
      // retry of such a request under any new-style id would land a
      // SECOND negative partition for the same holders — rc
      // double-decremented, over-erasure for content that still has
      // holders (the unsafe direction on this side). So: the sentinel
      // `--ingest-id legacy` reuses the ids-only partition (retry,
      // replay-idempotent), and a NEW-style id that would coexist with
      // an existing ids-only partition for EXACTLY this id set is
      // refused unless the operator acknowledges the intentional
      // second decrement with a `new:`-prefixed request id (re-posted
      // ids, genuinely distinct request).
      val legacyReqId = md5_16(cfg.ids.sorted.mkString(","))
      val reqId =
        if (cfg.ingestId == "legacy") legacyReqId
        else md5_16(cfg.ingestId + "|" + cfg.ids.sorted.mkString(","))
      if (reqId != legacyReqId && !cfg.ingestId.startsWith("new:")) {
        val ledger = s"${cfg.fingerprints}_normrc"
        val legacyExists = spark.catalog.tableExists(ledger) &&
          spark.table(ledger)
            .filter(col("ingest_id") === s"forget-$legacyReqId")
            .limit(1).count() > 0
        require(!legacyExists,
          s"ledger partition forget-$legacyReqId (pre-migration ids-only " +
            "hash) already exists for exactly this id set. If this is a " +
            "RETRY of that request, rerun with --ingest-id legacy to reuse " +
            "it (replay-idempotent); if it is a genuinely NEW deletion " +
            "request over re-posted ids, prefix the request id with " +
            "'new:' to acknowledge the intentional second decrement")
      }
      val victims = spark.read.parquet(cfg.in.stripPrefix("parquet:"))
        .filter(col("doc_id").isin(cfg.ids: _*))
      n += Forget.forgetFingerprints(spark, cfg.fingerprints, victims,
        "text", reqId)
    }
    if (cfg.in.startsWith("parquet:"))
      n += Forget.forgetFromDir(spark, cfg.in.stripPrefix("parquet:"),
        "doc_id", cfg.ids, cfg.partitionBy)
    if (cfg.table.nonEmpty) {
      n += Forget.forgetFromTable(spark, s"${cfg.table}_ndband",
        Seq("band_idx", "band_key"), "doc_id", cfg.ids)
      n += Forget.forgetFromTable(spark, s"${cfg.table}_ndsh",
        Seq("doc_id"), "doc_id", cfg.ids)
      // the family's cluster member, when maintained (`--mode cluster`):
      // membership rows vanish, anchored clusters relabel to the next
      // surviving min member, <2-member clusters dissolve
      if (spark.catalog.tableExists(s"${cfg.table}_clusters"))
        n += Forget.forgetFromClusters(spark, s"${cfg.table}_clusters", cfg.ids)
    }
    if (cfg.index.nonEmpty)
      n += Forget.forgetFromTable(spark, s"${cfg.index}_assignments",
        Seq("cid"), "id", cfg.ids)
    if (cfg.pq.nonEmpty)
      n += Forget.forgetFromTable(spark, s"${cfg.pq}_adc",
        Seq("cid"), "neighbor_id", cfg.ids)
    if (cfg.lex.nonEmpty)
      n += Forget.forgetFromLexicalIndex(spark, cfg.lex, cfg.ids)
    n
  }

  /** `--mode forget --source X`: BULK deletion (delist a whole source)
    * at the COMPACTION cadence — the per-id forget's driver-side id
    * list and partition hunt are the wrong tool for this, so the purge
    * rides the compaction fold instead ([[graft.operators.Forget
    * .purgeTable]]/[[graft.operators.Forget.purgeClusters]] /
    * [[graft.sources.Bucketing.compactDir]]'s transform hook): one
    * rewrite per store, bucket specs preserved, write-time retention
    * honored. The landing (`--in parquet:`) drops the source's rows
    * directly; the doc-keyed derived stores (`--table`/`--index`/
    * `--pq`, same targets as the per-id forget) anti-join the source's
    * doc ids — materialized from the landing BEFORE its fold rewrites
    * it. Returns the purged doc-id count. Kept (replay-horizon)
    * ingests stay replayable; a replay re-lands purged rows — purge
    * after the horizon, or re-run. */
  def runPurge(spark: SparkSession, cfg: Config): Long = {
    require(cfg.in.startsWith("parquet:"),
      "bulk purge needs --in parquet:<landing> — the source's doc ids " +
        "are resolved from it, and the landing itself is purged")
    import graft.operators.Forget
    val dir = cfg.in.stripPrefix("parquet:")
    // a crashed per-id forget's pending swap must finish (or roll back)
    // BEFORE the purge materializes its id set or the fold rewrites the
    // landing — otherwise the purge reads a store missing one partition,
    // and a later recovery would restore rows the fold already dropped
    locally {
      val p = new org.apache.hadoop.fs.Path(dir)
      val rfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Forget.recoverSwaps(rfs, rfs.makeQualified(p))
    }
    val landing = spark.read.parquet(dir)
    // the id set must survive the landing's own fold: eager checkpoint
    val ids = landing.filter(col("source") === cfg.source)
      .select("doc_id").distinct().localCheckpoint(true)
    val n = ids.count()
    graft.sources.Bucketing.compactDir(spark, dir, cfg.partitionBy,
      cfg.keepLast,
      // null-safe: rows with a NULL source are never "the source"
      transform = df => df.filter(!(col("source") <=> lit(cfg.source))))
    if (cfg.table.nonEmpty) {
      Forget.purgeTable(spark, s"${cfg.table}_ndband",
        Seq("band_idx", "band_key"), "doc_id", ids, cfg.keepLast)
      Forget.purgeTable(spark, s"${cfg.table}_ndsh",
        Seq("doc_id"), "doc_id", ids, cfg.keepLast)
      if (spark.catalog.tableExists(s"${cfg.table}_clusters"))
        Forget.purgeClusters(spark, s"${cfg.table}_clusters", ids, cfg.keepLast)
    }
    if (cfg.index.nonEmpty)
      Forget.purgeTable(spark, s"${cfg.index}_assignments",
        Seq("cid"), "id", ids, cfg.keepLast)
    if (cfg.pq.nonEmpty)
      Forget.purgeTable(spark, s"${cfg.pq}_adc",
        Seq("cid"), "neighbor_id", ids, cfg.keepLast)
    if (cfg.lex.nonEmpty)
      Forget.purgeLexicalIndex(spark, cfg.lex, ids, cfg.keepLast)
    n
  }

  /** `--mode cluster`: the cluster-assignment lifecycle — the third
    * member of the `--table` near-dup family
    * (`<name>_ndband`/`_ndsh`/`_clusters`), so the artifact d14-style
    * canonical selection and d17-style duplication reports consume is
    * maintained, audited, compacted, and forgotten like every other
    * family member instead of living outside the lifecycle. Two
    * flavors:
    *   - BOOTSTRAP (no `--ingest-id`): cluster the corpus at `--in
    *     parquet:<docs>` from scratch (LSH candidates → verified pairs
    *     at `--sim-threshold` → connected components) and persist as
    *     `ingest_id=base` ([[graft.operators.Dedup
    *     .saveClusterAssignments]]).
    *   - APPEND (`--ingest-id X`): fold the batch at `--in` into the
    *     stored assignment via the incremental delta fold
    *     ([[graft.operators.Dedup.appendClusterAssignments]] — delta
    *     pairs from the family's own key tables, never a corpus
    *     re-scan; new rows land replay-idempotently under X, bridged
    *     clusters' partitions are relabeled in place). An
    *     ingest-partitioned input is scoped to X (the runMaintain
    *     shared-landing discipline). Returns the printed summary. */
  /** The pinned cluster-fold threshold, when the table records one.
    * Compaction's rename-based swap recreates the table, so a missing
    * property on a pre-existing store is legal (legacy) — but when
    * present it is ENFORCED: a fold at a different cutoff than the
    * store was built with silently breaks rebuild-equivalence. */
  private def clusterThresholdOf(spark: SparkSession,
                                 tbl: String): Option[Double] =
    try spark.sql(s"SHOW TBLPROPERTIES $tbl ('graft.sim_threshold')")
      .collect().headOption.map(_.getString(1)).filterNot(_.contains("does not"))
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
    catch { case _: Exception => None }

  private def requireClusterThreshold(spark: SparkSession, tbl: String,
                                      given: Double): Unit =
    clusterThresholdOf(spark, tbl).foreach { pinned =>
      require(pinned == given,
        s"$tbl was built with --sim-threshold $pinned but this fold was " +
          s"given $given — edges would be derived at a different cutoff " +
          "and the store would silently stop being rebuild-equivalent; " +
          "pass the pinned value (or rebuild the family to change it)")
    }

  def runCluster(spark: SparkSession, cfg: Config): String = {
    require(cfg.table.nonEmpty,
      "cluster mode requires --table <near-dup family prefix>")
    require(cfg.in.startsWith("parquet:"),
      "cluster mode requires --in parquet:<docs dir>")
    val raw = spark.read.parquet(cfg.in.stripPrefix("parquet:"))
    val tbl = s"${cfg.table}_clusters"
    val summary = if (cfg.ingestId.isEmpty) {
      val assigns = graft.operators.Dedup.clusters(
        graft.operators.Dedup.jaccardPairs(raw, "doc_id", "text",
            threshold = cfg.simThreshold)
          .select("doc_a", "doc_b"))
      graft.operators.Dedup.saveClusterAssignments(spark, cfg.table, assigns)
      // PIN the fold threshold on the table: every later fold (daily
      // append, audit --repair) must re-derive edges at the SAME
      // cutoff or the store silently stops being rebuild-equivalent —
      // the property is the drift detector
      spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
        s"('graft.sim_threshold' = '${cfg.simThreshold}')")
      s"cluster bootstrap: ${spark.table(tbl).count()} assignment rows in $tbl"
    } else {
      requireClusterThreshold(spark, tbl, cfg.simThreshold)
      // shared landing: scope to this ingest's partition (pruned scan)
      val batch =
        if (raw.columns.contains("ingest_id"))
          raw.filter(col("ingest_id") === cfg.ingestId).drop("ingest_id")
        else raw
      graft.operators.Dedup.appendClusterAssignments(spark, cfg.table,
        batch.filter(col("text").isNotNull), "doc_id", "text",
        threshold = cfg.simThreshold, ingestId = cfg.ingestId)
      s"cluster append ${cfg.ingestId}: ${spark.table(tbl).count()} " +
        s"assignment rows in $tbl"
    }
    // `--commits <prefix>`: mark the fold committed — feeds the audit's
    // in-flight/crashed classification (an edgeless batch legitimately
    // lands no cluster partition, and the marker is what tells the
    // audit that's a completed fold, not a crashed one)
    if (cfg.commits.nonEmpty) {
      require(cfg.commits == cfg.table,
        s"--commits names the family being written (--table ${cfg.table}); " +
          s"got '${cfg.commits}' — a typo here would mark a DIFFERENT family")
      graft.sources.FamilyCommit.commit(spark, cfg.commits,
        if (cfg.ingestId.isEmpty) "base" else cfg.ingestId)
    }
    summary
  }

  /** `--mode lexical`: the BM25 posting family's operational face —
    * `--lex <prefix>` names the family; BOOTSTRAP (no `--ingest-id`)
    * builds `{prefix}_post`/`_lexstats` from `--in parquet:<docs>`
    * ([[graft.operators.TextAnalysis.saveLexicalIndex]]); APPEND
    * (`--ingest-id X`) lands the batch's postings + stat contribution
    * replay-idempotently (ingest-partitioned inputs scoped to X, the
    * runMaintain shared-landing discipline). `--commits <prefix>`
    * (the audit flag, same value as `--lex`) writes the family's
    * marker after the member writes — switching the family to
    * enforced read visibility on first use (the bootstrap commit
    * covers `base`). */
  def runLexical(spark: SparkSession, cfg: Config): String = {
    require(cfg.lex.nonEmpty, "lexical mode requires --lex <family prefix>")
    require(cfg.in.startsWith("parquet:"),
      "lexical mode requires --in parquet:<docs dir>")
    require(cfg.commits.isEmpty || cfg.commits == cfg.lex,
      s"--commits names the family being written (--lex ${cfg.lex}); " +
        s"got '${cfg.commits}' — a typo here would mark a DIFFERENT family")
    val raw = spark.read.parquet(cfg.in.stripPrefix("parquet:"))
    val post = s"${cfg.lex}_post"
    val summary = if (cfg.ingestId.isEmpty) {
      graft.operators.TextAnalysis.saveLexicalIndex(spark, cfg.lex,
        raw.filter(col("text").isNotNull), "doc_id", "text")
      if (cfg.commits.nonEmpty)
        graft.sources.FamilyCommit.commit(spark, cfg.lex, "base")
      s"lexical bootstrap: ${spark.table(post).count()} postings in $post"
    } else {
      val batch =
        if (raw.columns.contains("ingest_id"))
          raw.filter(col("ingest_id") === cfg.ingestId).drop("ingest_id")
        else raw
      graft.operators.TextAnalysis.appendLexicalIndex(spark, cfg.lex,
        batch.filter(col("text").isNotNull), "doc_id", "text",
        ingestId = cfg.ingestId)
      if (cfg.commits.nonEmpty)
        graft.sources.FamilyCommit.commit(spark, cfg.lex, cfg.ingestId)
      s"lexical append ${cfg.ingestId}: ${spark.table(post).count()} " +
        s"postings in $post"
    }
    summary
  }

  /** `--mode index`: the ANN index family's operational face —
    * `--index <prefix>` names the IVF family; BOOTSTRAP (no
    * `--ingest-id`) k-means the vectors at `--in parquet:<dir>`
    * (columns `id`, `vec`) into `--centroids` cells and persists
    * `{prefix}_centroids`/`_assignments`
    * ([[graft.operators.Similarity.saveIvfIndex]]); APPEND
    * (`--ingest-id X`) routes the batch through the frozen centroids
    * and lands it replay-idempotently
    * ([[graft.operators.Similarity.appendToIvfIndex]]), and with
    * `--pq <pqPrefix>` (+ `--dim`) ALSO encodes the batch against the
    * existing PQ books and appends the `{pq}_adc` postings — the two
    * member writes are SEQUENTIAL, which is exactly why `--commits`
    * exists: the marker lands after the LAST member write (one marker
    * per family — IVF and ADC each get theirs), and the probe/monitor
    * reads are commit-visible, so the half-landed window is never
    * readable. An ingest-partitioned input is scoped to X (the
    * runMaintain shared-landing discipline). PQ model bootstrap stays
    * library-level (`ensurePqModel`/`ensureAdcPostings` — it needs the
    * codebook hyperparameters); this mode maintains what exists. */
  def runIndex(spark: SparkSession, cfg: Config): String = {
    require(cfg.index.nonEmpty, "index mode requires --index <IVF family prefix>")
    require(cfg.in.startsWith("parquet:"),
      "index mode requires --in parquet:<vectors dir with (id, vec)>")
    require(cfg.commits.isEmpty || cfg.commits == cfg.index,
      s"--commits names the family being written (--index ${cfg.index}); " +
        s"got '${cfg.commits}' — a typo here would mark a DIFFERENT family")
    val raw = spark.read.parquet(cfg.in.stripPrefix("parquet:"))
    val scoped =
      if (raw.columns.contains("ingest_id") && cfg.ingestId.nonEmpty)
        raw.filter(col("ingest_id") === cfg.ingestId).drop("ingest_id")
      else raw
    val vecs = scoped.select(col("id"), col("vec"))
    import graft.operators.Similarity
    if (cfg.ingestId.isEmpty) {
      require(cfg.pq.isEmpty,
        "index bootstrap is IVF-only — build the PQ members with " +
          "ensurePqModel/ensureAdcPostings, then commit their family")
      Similarity.saveIvfIndex(spark,
        Similarity.ivfIndex(vecs, cfg.centroids), cfg.index)
      if (cfg.commits.nonEmpty)
        graft.sources.FamilyCommit.commit(spark, cfg.index, "base")
      s"index bootstrap: ${spark.table(s"${cfg.index}_assignments").count()} " +
        s"vectors in ${cfg.index} (${cfg.centroids} centroids)"
    } else {
      Similarity.appendToIvfIndex(spark, cfg.index, vecs, cfg.ingestId)
      if (cfg.pq.nonEmpty) {
        // subspace count comes off the existing books — an append
        // refreshes members, it never changes the model's shape
        val m = Similarity.loadPqBooks(spark, cfg.pq).length
        Similarity.appendToAdcPostings(spark, cfg.index, cfg.pq, vecs,
          m = m, ingestId = cfg.ingestId, dim = cfg.dim)
      }
      // markers AFTER the family's last member write: until these land,
      // commit-visible probes and the recall monitor skip the ingest
      if (cfg.commits.nonEmpty) {
        graft.sources.FamilyCommit.commit(spark, cfg.index, cfg.ingestId)
        if (cfg.pq.nonEmpty)
          graft.sources.FamilyCommit.commit(spark, cfg.pq, cfg.ingestId)
      }
      s"index append ${cfg.ingestId}: ${cfg.index}" +
        (if (cfg.pq.nonEmpty) s" + ${cfg.pq}_adc" else "")
    }
  }

  /** The heal half of the audit (`--mode audit --repair true`): for
    * each flagged ingest id, re-run the family's maintain for EXACTLY
    * that id — read the landed docs back from their `ingest_id=`
    * partition of the corpus landing (`--in parquet:<corpus_docs>`,
    * partition-pruned) and re-land the derived keys under the same id.
    * Which maintain depends on the family:
    *   - `--known-keys <dir>`: the path-based key dir — exactly
    *     [[runMaintain]]'s body (dynamic partition overwrite).
    *   - otherwise, the MANAGED families are inferred from the
    *     `--table` members' suffixes (the writers' naming contract):
    *     `<n>_norm`+`<n>_bands` → [[graft.operators.Dedup
    *     .appendIncrementalKeys]]; `<n>_ndband`+`<n>_ndsh` →
    *     [[graft.operators.Dedup.appendNearDupKeys]];
    *     `<n>_post`+`<n>_lexstats` → [[graft.operators.TextAnalysis
    *     .appendLexicalIndex]] — the re-append lands BOTH member
    *     tables, completing whichever half the crash dropped, and
    *     re-commits families that enforce markers.
    * Idempotence makes this safe unconditionally: a
    * flagged-but-actually-fine ingest (or the surviving half of a
    * half-ingest) is replaced with identical rows. Ids flagged by the
    * audit that have NO docs partition (keys landed but the docs
    * write never happened, or a raw-input maintain the landing never
    * saw) cannot be healed from the landing — they are returned as
    * `manual` and need the original batch re-run. Returns
    * (healed, manual). */
  def runRepair(spark: SparkSession, cfg: Config,
                bad: Seq[String]): (Seq[String], Seq[String]) = {
    require(cfg.in.startsWith("parquet:"),
      "audit --repair needs --in parquet:<corpus_docs dir> (the landed " +
        "docs, ingest_id-partitioned) as the heal source")
    val managed = cfg.table.split(",").toSeq.map(_.trim)
      .filterNot(_.startsWith("parquet:"))
    def prefixes(a: String, b: String): Seq[String] =
      managed.filter(_.endsWith(a)).map(_.stripSuffix(a))
        .intersect(managed.filter(_.endsWith(b)).map(_.stripSuffix(b)))
    val exactFams = prefixes("_norm", "_bands")
    val ndFams = prefixes("_ndband", "_ndsh")
    val lexFams = prefixes("_post", "_lexstats")
    require(cfg.knownKeys.nonEmpty || exactFams.nonEmpty || ndFams.nonEmpty ||
      lexFams.nonEmpty,
      "audit --repair needs --known-keys <dir to heal>, or --table members " +
        "naming a managed family (<n>_norm,<n>_bands / <n>_ndband,<n>_ndsh / " +
        "<n>_post,<n>_lexstats)")
    import spark.implicits._
    val docs = spark.read.parquet(cfg.in.stripPrefix("parquet:"))
    // cast only the driver-side id listing (partition inference reads
    // all-date id sets back as DateType); the per-id filters below
    // compare the UNTOUCHED partition column so the scans still prune
    val present = docs.select(col("ingest_id").cast("string"))
      .distinct().as[String].collect().toSet
    val (repairable, manual) = bad.partition(present)
    repairable.foreach { id =>
      // one partition-pruned scan per healed id; every write below is
      // the same idempotent overwrite the original maintain used.
      // Heal rewrites preserve each surviving partition's mtime
      // (compaction retention is write-time-ordered — healing an OLD
      // ingest must not make it look freshly landed); the member the
      // crash dropped gets a fresh partition, fresh mtime, which is
      // honest: it WAS just written.
      val batch = docs.filter(col("ingest_id") === id)
        .filter(col("text").isNotNull)
      if (cfg.knownKeys.nonEmpty) {
        val part = new org.apache.hadoop.fs.Path(cfg.knownKeys, s"ingest_id=$id")
        val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val mtime = if (fs.exists(part))
          Some(fs.getFileStatus(part).getModificationTime) else None
        Connectors.overwritePartitions(
          graft.operators.Dedup.knownKeys(batch, "text")
            .withColumn("ingest_id", lit(id)),
          cfg.knownKeys, Seq("ingest_id"))
        mtime.foreach(t => if (fs.exists(part)) fs.setTimes(part, t, -1))
      }
      exactFams.foreach(n =>
        graft.sources.Bucketing.preservingMtime(spark, s"${n}_norm", id) {
          graft.sources.Bucketing.preservingMtime(spark, s"${n}_bands", id) {
            graft.operators.Dedup.appendIncrementalKeys(spark, n, batch,
              "text", ingestId = id)
          }
        })
      ndFams.foreach(n =>
        graft.sources.Bucketing.preservingMtime(spark, s"${n}_ndband", id) {
          graft.sources.Bucketing.preservingMtime(spark, s"${n}_ndsh", id) {
            graft.operators.Dedup.appendNearDupKeys(spark, n, batch,
              "doc_id", "text", ingestId = id)
          }
        })
      lexFams.foreach(n =>
        graft.sources.Bucketing.preservingMtime(spark, s"${n}_post", id) {
          graft.sources.Bucketing.preservingMtime(spark, s"${n}_lexstats", id) {
            graft.operators.TextAnalysis.appendLexicalIndex(spark, n, batch,
              "doc_id", "text", ingestId = id)
          }
        })
      // while this ingest sat crashed/uncommitted, every cluster fold
      // in the window recorded NO edges against its docs (the
      // marker-gated key read, Dedup.appendClusterAssignments doc) —
      // re-fold the healed ingest to re-add exactly those edges. The
      // fold runs BEFORE the marker commit: the batch's text is in
      // hand and the corpus keys of every OTHER committed ingest are
      // visible, so the fold needs nothing from this ingest's own
      // (still-uncommitted) keys — and commit-last means a crash
      // between fold and commit leaves the ingest flagged, so the next
      // repair re-runs both (convergent); commit-first would mark it
      // healthy with the withheld edges lost forever.
      ndFams.filter(n => spark.catalog.tableExists(s"${n}_clusters"))
        .foreach { n =>
          // the PINNED deployment threshold, not the CLI default: a
          // repair invoked without --sim-threshold must not re-derive
          // the healed ingest's edges at a different cutoff than every
          // normal fold used (rebuild-equivalence would silently break)
          val thr = clusterThresholdOf(spark, s"${n}_clusters")
            .getOrElse(cfg.simThreshold)
          graft.operators.Dedup.appendClusterAssignments(
            spark, n, batch, "doc_id", "text",
            threshold = thr, ingestId = id)
        }
      // a healed ingest IS fully landed — for families enforcing
      // commit visibility, the repair's marker is the LAST write
      (exactFams ++ ndFams ++ lexFams)
        .filter(graft.sources.FamilyCommit.enabled(spark, _))
        .foreach(graft.sources.FamilyCommit.commit(spark, _, id))
    }
    (repairable, manual)
  }

  /** `--mode audit`: cross-store ingest-consistency check for a
    * maintenance family (`--table a,b[,parquet:/dir]`, with
    * `--warehouse` for catalog members) — detects the
    * crash-between-writes half-ingest the retry discipline heals but
    * cannot itself notice. Returns the INCONSISTENT ingest ids
    * (empty = healthy); the printed verdict names them. */
  /** `--mode status --manifest <file>`: the one-stop deployment
    * dashboard. A full deployment maintains several families (landing,
    * near-dup keys, exact keys, clusters, lexical, IVF, ADC) and
    * checking them meant composing 4-5 `--mode audit` /
    * `--mode recall-check` invocations by hand; this mode reads a
    * declarative manifest and prints ONE table (family × ingest ×
    * status) plus the ANN recall verdicts.
    *
    * Manifest grammar (plain text; `#` comments and blanks skipped):
    * {{{
    * # <family-prefix>: member1,member2[,...]   (catalog tables or parquet:/dir)
    * corpus_nd:  corpus_nd_ndband,corpus_nd_ndsh
    * corpus_lex: corpus_lex_post,corpus_lex_lexstats
    * landing:    parquet:/data/corpus_docs
    * # ANN recall monitors:
    * recall: index=corpus_ivf k=10 nprobe=2 sample=64 min-recall=0.9
    * recall: index=corpus_ivf pq=corpus_pq dim=64 residual=true
    * }}}
    *
    * Classification: a family whose `_commits` marker table exists
    * gets the marker-aware statuses (committed / in-flight / crashed /
    * broken — [[graft.sources.FamilyCommit.status]], `--grace-sec`
    * bounds in-flight); a legacy-open family falls back to the
    * cross-member consistency audit
    * ([[graft.sources.Bucketing.auditIngests]]). Recall lines ride
    * [[runRecallCheck]] with the line's own parameters (defaults from
    * the CLI flags). Returns the (family, ingest, status) rows —
    * recall rows as (`recall:<index>`, "-", verdict) — so callers can
    * alert on them; the exit summary counts crashed/broken/
    * inconsistent/RETRAIN rows as "need attention". */
  def runStatus(spark: SparkSession, cfg: Config): Seq[(String, String, String)] = {
    require(cfg.manifest.nonEmpty, "status mode requires --manifest <file>")
    import spark.implicits._
    val src = scala.io.Source.fromFile(cfg.manifest)
    val lines = try src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally src.close()
    // each manifest entry is evaluated under Try: the status tool
    // exists precisely to REPORT broken deployments, so a dropped
    // index table / empty recall sample / unreadable family must
    // surface as an `error: …` row (counted as need-attention) rather
    // than abort the dashboard and lose every other family's rows.
    // Malformed manifest LINES still throw — a bad manifest is the
    // operator's input error, not a deployment state to report.
    def guarded(label: String)(body: => Seq[(String, String, String)]) =
      scala.util.Try(body).recover { case e: Exception =>
        // e.toString, never getMessage: a bare NPE has a null message,
        // and an empty one has no first line — the guard must not
        // itself throw or the dashboard dies on exactly the broken
        // deployment it exists to report
        val msg = Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.toString)
        Seq((label, "-",
          s"error: ${msg.linesIterator.toSeq.headOption.getOrElse(e.toString)}"))
      }.get
    def kvOf(l: String, prefix: String): Map[String, String] =
      l.stripPrefix(prefix).trim.split("\\s+").filter(_.nonEmpty).map { t =>
        t.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => sys.error(s"malformed ${prefix.stripSuffix(":")} token " +
            s"'$t' — expected key=value")
        }
      }.toMap
    val rows: Seq[(String, String, String)] = lines.flatMap {
      case l if l.startsWith("recall:") =>
        val kv = kvOf(l, "recall:")
        val idx = kv.getOrElse("index",
          sys.error(s"recall line needs index=<ivfPrefix>: '$l'"))
        guarded(s"recall:$idx") {
          val rep = runRecallCheck(spark, cfg.copy(mode = "recall-check",
            index = idx, pq = kv.getOrElse("pq", ""),
            k = kv.get("k").map(_.toInt).getOrElse(cfg.k),
            nProbe = kv.get("nprobe").map(_.toInt).getOrElse(cfg.nProbe),
            sample = kv.get("sample").map(_.toInt).getOrElse(cfg.sample),
            minRecall = kv.get("min-recall").map(_.toDouble).getOrElse(cfg.minRecall),
            dim = kv.get("dim").map(_.toInt).getOrElse(cfg.dim),
            shortlist = kv.get("shortlist").map(_.toInt).getOrElse(cfg.shortlist),
            residual = kv.get("residual").exists(_.toBoolean)))
          Seq((s"recall:$idx", "-",
            f"${if (rep.retrain) "RETRAIN" else "OK"}%s (recall@${rep.k}%d " +
              f"${rep.recall}%.3f vs floor ${rep.minRecall}%.2f)"))
        }
      case l if l.startsWith("drift:") =>
        // `drift: index=<ivfPrefix> [shift-floor=0.05]` — the s25
        // segment monitor at dashboard cadence: post-base ingests vs
        // the base build, both routed onto the persisted centroids.
        // Cheaper than the recall line (no query traffic, no brute
        // force) — the early warning that schedules a retrain BEFORE
        // recall dips; a shift at/above the floor flags RETRAIN?.
        val kv = kvOf(l, "drift:")
        val idx = kv.getOrElse("index",
          sys.error(s"drift line needs index=<ivfPrefix>: '$l'"))
        guarded(s"drift:$idx") {
          val model = graft.operators.Similarity.loadIvfIndex(spark, idx)
          val asg = model.assignments
          // three-valued-logic guard (the Dedup.scala:311 bug class):
          // a NULL ingest_id must not vanish from BOTH segments —
          // route NULLs deterministically to the post-base side
          val isBase = coalesce(
            col("ingest_id").cast("string") === "base", lit(false))
          val oldSeg = asg.filter(isBase).select("vec")
          val newSeg = asg.filter(!isBase).select("vec")
          if (newSeg.isEmpty)
            Seq((s"drift:$idx", "-", "OK (no post-base ingest)"))
          else if (oldSeg.isEmpty)
            // 100% of index mass is post-base: there IS no base
            // reference to drift against — that is maximal drift, not
            // "shift 0" (occ_shift is NULL here, and getAs[Double]
            // would silently unbox it to 0.0 → a false OK)
            Seq((s"drift:$idx", "-",
              "RETRAIN? (no base-ingest rows — all index mass is post-base)"))
          else {
            val floor = kv.get("shift-floor").map(_.toDouble).getOrElse(0.05)
            val worst = graft.operators.Similarity
              .segmentDriftReport(model, oldSeg, newSeg)
              .orderBy(col("drift_rank")).limit(1).collect().head
            val shift = worst.getAs[Double]("occ_shift")
            val disp = Option(worst.getAs[java.lang.Double]("disp"))
              .map(d => f"${d.doubleValue()}%.6f").getOrElse("n/a")
            Seq((s"drift:$idx", "-",
              f"${if (shift >= floor) "RETRAIN?" else "OK"}%s (top cell " +
                f"${worst.getAs[Long]("cid")}%d shift $shift%.6f vs floor " +
                f"$floor%.2f, disp $disp%s)"))
          }
        }
      case l if l.startsWith("model:") =>
        // `model: name=<prefix>` — the persisted classifier family:
        // shape + training provenance at dashboard cadence (a dropped
        // weight table or half-landed save surfaces as an error row)
        val kv = kvOf(l, "model:")
        val nm = kv.getOrElse("name",
          sys.error(s"model line needs name=<prefix>: '$l'"))
        guarded(s"model:$nm") {
          val m = graft.operators.TextAnalysis.loadLogisticModel(spark, nm)
          Seq((s"model:$nm", "-",
            s"OK (${m.weights.size} weights over ${m.nBuckets} buckets, " +
              s"trained ${m.rounds} rounds on ${m.nDocs} docs, lr ${m.lr})"))
        }
      case l =>
        // split limit 2: member lists may hold `parquet:/dir` colons
        val (fam, members) = l.split(":", 2) match {
          case Array(f, ms) if f.trim.nonEmpty && ms.trim.nonEmpty =>
            (f.trim, ms.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          case _ => sys.error(s"malformed manifest line '$l' — expected " +
            "'<family>: member1[,member2...]' or 'recall: index=...'")
        }
        guarded(fam) {
          if (graft.sources.FamilyCommit.enabled(spark, fam))
            graft.sources.FamilyCommit.status(spark, members, fam,
                cfg.graceSec * 1000L)
              .select(col("ingest_id").cast("string"), col("status"))
              .as[(String, String)].collect().toSeq.sorted
              .map { case (id, st) => (fam, id, st) }
          else
            graft.sources.Bucketing.auditIngests(spark, members)
              .select(col("ingest_id").cast("string"), col("consistent"))
              .as[(String, Boolean)].collect().toSeq.sortBy(_._1)
              .map { case (id, ok) =>
                (fam, id, if (ok) "consistent (legacy-open)" else "inconsistent")
              }
        }
    }
    val w1 = (rows.map(_._1.length) :+ "family".length).max
    val w2 = (rows.map(_._2.length) :+ "ingest".length).max
    println(s"[edge] %-${w1}s  %-${w2}s  %s".format("family", "ingest", "status"))
    rows.foreach { case (f, i, s) =>
      println(s"[edge] %-${w1}s  %-${w2}s  %s".format(f, i, s))
    }
    val bad = rows.filter { case (_, _, s) =>
      s == "crashed" || s == "broken" || s == "inconsistent" ||
        s.startsWith("RETRAIN") || s.startsWith("error:")
    }
    println(s"[edge] status: ${rows.size} rows across ${lines.size} manifest " +
      s"entries, ${bad.size} need attention" +
      (if (bad.isEmpty) ""
       else bad.map(b => s"${b._1}/${b._2}").mkString(" (", ", ", ")")))
    rows
  }

  def runAudit(spark: SparkSession, cfg: Config): Seq[String] = {
    require(cfg.table.nonEmpty && cfg.table.contains(","),
      "audit mode requires --table member1,member2[,...]")
    import spark.implicits._
    val members = cfg.table.split(",").toSeq.map(_.trim)
    if (cfg.commits.nonEmpty) {
      // marker-aware audit: an UNCOMMITTED ingest younger than the
      // grace window is a writer mid-family (in-flight — leave it
      // alone, repair would race the live write); older is crashed. A
      // committed-but-inconsistent ingest ("broken") needs repair too.
      val st = graft.sources.FamilyCommit.status(spark, members,
          cfg.commits, cfg.graceSec * 1000L)
        .select(col("ingest_id").cast("string"), col("status"))
        .as[(String, String)].collect().toSeq.sortBy(_._1)
      st.foreach { case (id, s) => println(s"[edge] ingest $id: $s") }
      st.collect { case (id, "crashed" | "broken") => id }
    } else
      graft.sources.Bucketing.auditIngests(spark, members)
        .filter(!col("consistent"))
        .select("ingest_id").as[String].collect().toSeq.sorted
  }

  /** `--mode compact`: fold finalized ingest partitions — the
    * operational tax of the replay-safe append discipline (one
    * partition directory of small files per daily ingest). Two
    * targets:
    *   - `--known-keys <dir>`: the path-based key dir `--mode
    *     maintain` appends to — all but the most-recently-WRITTEN
    *     `--keep-last` ingest partitions fold into `ingest_id=base`
    *     (write-time retention; `base` itself never counts).
    *   - `--table name:key1,key2` (with `--warehouse`): a managed
    *     bucketed key table ([[graft.sources.Bucketing.compactIngests]]
    *     — same fold, bucket/sort spec preserved).
    * Only compact ingests past the pipeline's retry horizon: a retry
    * of a FOLDED ingest id re-appends (its partition no longer
    * exists), which is what `--keep-last` protects. */
  def runCompact(spark: SparkSession, cfg: Config): String = {
    require(cfg.knownKeys.nonEmpty || cfg.table.nonEmpty ||
      cfg.fingerprints.nonEmpty,
      "compact mode requires --known-keys <dir>, --table name:k1,k2, " +
        "or --fingerprints <rcName>")
    if (cfg.fingerprints.nonEmpty) {
      // the rc family's OWN compaction (not the generic fold): ledger
      // sums collapse per key and dead fingerprints are physically
      // erased from EVERY partition — including the --keep-last ones,
      // so erasure is complete at any retention (the global-total
      // filter, not a per-partition one); --keep-last only governs the
      // replay horizon, exactly as in the other compact targets
      graft.operators.Dedup.compactRcFingerprints(spark, cfg.fingerprints,
        cfg.keepLast)
      val t = s"${cfg.fingerprints}_normrc"
      s"rc fingerprints $t (${spark.table(t).count()} ledger rows)"
    } else if (cfg.table.nonEmpty) {
      val (name, keys) = cfg.table.split(":") match {
        case Array(n, ks) => (n, ks.split(",").toSeq.map(_.trim))
        case _ => sys.error(s"--table expects name:key1[,key2], got ${cfg.table}")
      }
      graft.sources.Bucketing.compactIngests(spark, name, keys,
        graft.sources.Bucketing.bucketsOf(spark, name), cfg.keepLast)
      s"table $name (${spark.table(name).count()} rows)"
    } else {
      // works for ANY ingest-partitioned parquet dir the replay
      // discipline writes: the maintain key dir (ingest_id only) and
      // the dedup corpus_docs landing (lang, ingest_id) — other
      // partition columns are preserved; only ingest_id folds.
      // Durable side-dir + rename-aside swap, write-time retention
      // (graft.sources.Bucketing.compactDir).
      val (nIds, nKept) = graft.sources.Bucketing.compactDir(spark,
        cfg.knownKeys, cfg.partitionBy, cfg.keepLast)
      s"dir ${cfg.knownKeys} ($nIds ingests -> $nKept)"
    }
  }

  /** `--mode recall-check`: the ANN re-train trigger — sampled
    * recall@k of the append-maintained IVF index (`--index` table
    * prefix, in `--warehouse`) vs brute force, verdict RETRAIN when it
    * falls below `--min-recall`. Run it on the maintenance cadence
    * AFTER the day's `appendToIvfIndex`; a RETRAIN verdict means the
    * frozen centroids no longer separate the (drifted) corpus and the
    * index should be rebuilt (`ensureIvfIndex` after dropping, or
    * `saveIvfIndex` of a fresh `ivfIndex`). Exit contract: returns the
    * report; the printed line carries the verdict. */
  def runRecallCheck(spark: SparkSession,
                     cfg: Config): graft.operators.Similarity.RecallReport = {
    require(cfg.index.nonEmpty,
      "recall-check mode requires --index (the IVF table prefix)")
    // --pq switches to the IVF-ADC path: same sample and exact
    // baseline, probed through the posting/codebook tables, so the
    // verdict covers coarse-routing AND encoding drift
    if (cfg.pq.nonEmpty)
      graft.operators.Similarity.adcRecallCheck(spark, cfg.index, cfg.pq,
        cfg.dim, cfg.k, cfg.nProbe, cfg.shortlist, cfg.sample, cfg.minRecall,
        residual = cfg.residual)
    else
      graft.operators.Similarity.ivfRecallCheck(spark, cfg.index,
        cfg.k, cfg.nProbe, cfg.sample, cfg.minRecall)
  }

  /** The 4096-bucket feature space every member of the logistic family
    * shares (the t20 teacher, the t45 learner, the persisted models) —
    * a persisted model trained here scores under the exact hash space
    * the fixed-weight gate uses, so the two are swappable. */
  private val ModelBuckets = 4096

  /** `--mode train`: bootstrap-train the in-engine logistic quality
    * classifier on a parquet corpus and PERSIST it as a maintained
    * model family (`<model>_weights` / `<model>_meta` in --warehouse).
    * Label = the t20 fixed-hash teacher gate (the same distillation
    * target the oracle-checked t45 trainer uses — swap in a labeled
    * column upstream when human labels exist). The persisted model
    * then serves `--mode classify --model` and the trained streaming
    * admission gate (`--mode corpus --model`) WITHOUT retraining per
    * run. Idempotent: the corpus's `Tables.fingerprint` makes a
    * re-run over unchanged data a catalog no-op, while a regenerated
    * corpus triggers a retrain (the staleness guard). */
  def runTrain(spark: SparkSession, cfg: Config): Long = {
    require(cfg.in.startsWith("file:"), "train mode requires --in file:/dir")
    require(cfg.model.nonEmpty, "train mode requires --model <family>")
    val path = cfg.in.stripPrefix("file:")
    val fp = graft.sources.Tables.fingerprint(spark, path)
    val model = graft.operators.TextAnalysis.ensureLogisticModel(spark,
      cfg.model, spark.read.parquet(path), "doc_id", "text",
      graft.plans.TextHash.classifierScore(
        graft.functions.TextOps.tokens(col("text"))) > 0L,
      nBuckets = ModelBuckets, rounds = cfg.rounds, fingerprint = Some(fp))
    model.weights.size.toLong
  }

  /** `--mode classify`: the model-inference gate as an operational
    * job — score every document in a parquet dir and land
    * (doc_id, n_feats, score, keep) partitioned by the keep flag, so
    * downstream mixes read only the `keep=true` branch. Without
    * `--model`: the t20 fixed-hash linear classifier. With
    * `--model <family>`: the PERSISTED trained model — loaded once
    * (≤ 4097 weight rows), scored via the stateless per-row
    * exact-decimal expression, so both paths are one shuffle-free
    * codegen'd scan; nothing retrains per run. */
  def runClassify(spark: SparkSession, cfg: Config): Long = {
    require(cfg.in.startsWith("file:"), "classify mode requires --in file:/dir")
    val docs = spark.read.parquet(cfg.in.stripPrefix("file:"))
    val scored =
      if (cfg.model.isEmpty)
        graft.operators.TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
      else {
        val m = loadModelOrExplain(spark, cfg.model)
        val t = graft.functions.TextOps.tokens(col("text"))
        docs.select(col("doc_id"),
            (when(size(t) < 2, size(t)).otherwise(size(t) * 2 - 1) + 1)
              .cast("long").as("n_feats"),
            graft.operators.TextAnalysis
              .trainedScoreDecimal(col("text"), m).as("swd"))
          .withColumn("keep", col("swd") > lit(java.math.BigDecimal.ZERO))
          .select(col("doc_id"), col("n_feats"),
            col("swd").cast("double").as("score"), col("keep"))
      }
    writeAndCount(cfg, scored, "classified", SaveMode.Overwrite, Seq("keep"))
  }

  /** Load a persisted model with an actionable error: a missing family
    * should tell the operator the bootstrap command, not throw a bare
    * TABLE_OR_VIEW_NOT_FOUND. */
  private def loadModelOrExplain(spark: SparkSession,
                                 name: String): graft.operators.TextAnalysis.LogisticModel =
    try graft.operators.TextAnalysis.loadLogisticModel(spark, name)
    catch { case e: org.apache.spark.sql.AnalysisException =>
      sys.error(s"model family '$name' not loadable from the warehouse " +
        s"(${e.getMessage.linesIterator.next()}); bootstrap it with " +
        s"--mode train --in file:/corpus --model $name --warehouse <dir>")
    }

  /** `--mode zorder`: OPTIMIZE-ZORDER for a parquet table — read
    * `--in file:/dir`, cluster on the Morton key of `--dims` (see
    * operators.Layout), write `--files` parquet files to --out. The
    * offline layout pass a 100 TB lakehouse schedules after ingest so
    * min/max file skipping works on every listed dimension.
    *
    * With `--ingest-id`, runs the INCREMENTAL flavor instead
    * ([[graft.operators.Layout.appendZorder]]): the input is one
    * batch, z-clustered alone and landed replay-idempotently under its
    * ingest partition with an incremental manifest refresh — the daily
    * layout step; the full rewrite above is the compaction-cadence
    * one. */
  private def runZorder(spark: SparkSession, cfg: Config): Long = {
    require(cfg.in.startsWith("file:"), "zorder mode requires --in file:/dir")
    require(cfg.out.nonEmpty && cfg.dims.size >= 2,
      "zorder mode requires --out and --dims c1,c2[,c3[,c4]]")
    val input = spark.read.parquet(cfg.in.stripPrefix("file:"))
    if (cfg.ingestId.nonEmpty) {
      graft.operators.Layout.appendZorder(spark, input, cfg.dims,
        cfg.bits, cfg.files, cfg.out, cfg.ingestId)
      new java.io.File(s"${cfg.out}/ingest_id=${cfg.ingestId}").listFiles()
        .count(f => f.getName.endsWith(".parquet")).toLong
    } else {
      graft.operators.Layout.zorderWrite(input, cfg.dims, cfg.bits,
        cfg.files, cfg.out)
      // the skipping index that makes the layout pay off at read time
      graft.operators.Layout.writeManifest(spark, cfg.out, cfg.dims)
      new java.io.File(cfg.out).listFiles()
        .count(f => f.getName.endsWith(".parquet")).toLong
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    // recall-check reads catalog tables: point the session at the
    // warehouse the index was persisted into. Without --warehouse keep
    // Spark's default ./spark-warehouse, so managed tables outlive the run
    val spark = graft.GraftSession(master = sys.env.get("SPARK_GRAFT_MASTER"),
      warehouse = Some(if (cfg.warehouse.nonEmpty) cfg.warehouse else "spark-warehouse"))
    try run(spark, cfg) finally spark.stop()
  }
}
