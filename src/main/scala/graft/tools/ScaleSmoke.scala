package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import scala.collection.immutable.ListMap

/** Scale validation: deterministic in-memory data ~50× the bench SF
  * (5M events / 50k docs / 50k embeddings), driving the heavy
  * operators. The point is observing SCALING, not absolute numbers:
  * an operator whose runtime grows superlinearly here would melt at
  * 100 TB. Data is generated from `spark.range` + hash-derived
  * columns — deterministic, fully distributed, no driver materialize.
  *
  * Run: `sbt "runMain graft.tools.ScaleSmoke [nEvents] [nDocs]"`.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nEvents = if (args.length > 0) args(0).toLong else 5000000L
    val nDocs = if (args.length > 1) args(1).toLong else 50000L
    val spark = graft.GraftSession()
    import spark.implicits._

    val vocab = Seq("the", "fast", "key", "order", "sort", "table", "scan",
      "merge", "part", "window", "small", "hash", "join", "row", "data",
      "slow", "filter", "customer", "line", "batch", "value", "group",
      "query", "stream", "agg", "vector", "column", "a", "and", "of")
    val vocabCol = typedlit(vocab)

    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(xxhash64(col("id")), lit(2592000L)) * 1000000L).as("ts"),
      pmod(xxhash64(col("id"), lit(1)), lit(5000L)).as("user_id"),
      (pmod(xxhash64(col("id"), lit(2)), lit(49000L)).cast("double") / 100.0 + 1.0).as("value"),
      (pmod(xxhash64(col("id"), lit(3)), lit(100L)) + 1).as("vol"))

    // size-parameterized generators so the same distribution can be
    // produced at half scale for the 2x-cost linearity probes
    def docsOf(n: Long): DataFrame = spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(60) + pmod(xxhash64(col("id")), lit(60)).cast("int")),
        i => element_at(vocabCol, (pmod(xxhash64(col("id"), i), lit(vocab.size.toLong)) + 1).cast("int")))).as("text"))
    val docs = docsOf(nDocs)

    def embOf(n: Long): DataFrame = spark.range(n).select(
      col("id").as("id"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(col("id"), i, lit(7)), lit(2000L)).cast("double") - 1000.0) / 1000.0).as("vec"))
    val embeddings = embOf(nDocs)

    // every probe line carries the NOISE-FREE work axes beside
    // wall-clock (the bench work-metrics discipline, VERDICT r17 #6):
    // shuffle bytes and task counts don't wobble with a co-loaded
    // host, so cross-round probe comparisons adjudicate on bytes
    val wl = new graft.Bench.WorkListener
    spark.sparkContext.addSparkListener(wl)
    val cap = new graft.Bench.ExecutionCapture(spark)
    def time(name: String)(body: => DataFrame): (String, Double) = {
      org.apache.spark.GraftBus.drain(spark.sparkContext); wl.reset(); cap.clear()
      val t0 = System.nanoTime()
      // noop sink materializes all columns (count() would let Catalyst
      // prune unused window/projection expressions)
      body.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      val rows = Option(cap.get())
        .map(qe => graft.Bench.firstOutputRows(qe.executedPlan))
        .getOrElse(-1L)
      val w = wl.snapshot(rows, "")
      println(f"[scale] $name%-28s ${dt}%8.2f s  sr=${w.sr} sw=${w.sw} " +
        s"in=${w.in} spill=${w.spill} tasks=${w.tasks} rows=${w.rows}")
      (name, dt)
    }

    // every Nth event opens an interval of the given length — the same
    // input for the bucketed and native range-join timings
    def intervalsOf(ev: DataFrame, mod: Int, len: String): DataFrame =
      ev.filter(col("event_id") % mod === 0)
        .select(col("event_id").as("interval_id"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr(s"INTERVAL $len")).as("end_ts"))

    // warmup
    events.limit(1).count(); docs.limit(1).count()

    // labels reflect the ACTUAL sizes (defaults: 5M / 50k), so runs with
    // overridden args don't report under the default-scale names
    def fmt(n: Long): String =
      if (n >= 1000000L) s"${n / 1000000L}M" else s"${n / 1000L}k"
    val ne = fmt(nEvents)
    val nd = fmt(nDocs)

    val results = Seq(
      time(s"groupby_agg_$ne") {
        events.groupBy(pmod(col("user_id"), lit(100L)))
          .agg(sum(col("value").cast(graft.functions.Exact.M)), count(lit(1)))
      },
      time(s"window_metrics_$ne") {
        val m = Metrics.rolling(col("user_id"), Seq(col("ts"), col("event_id")),
          col("value"), col("vol"))
        events.select(col("event_id"), m.vwap.as("v"), m.vol.as("s"))
      },
      time(s"ohlcv_bars_$ne") {
        Bars.ohlcv(events, col("user_id"), col("ts"), col("value"), col("vol"))
      },
      time(s"topk_per_group_$ne") {
        Relational.topKPerGroup(events, Seq(col("user_id")),
          Seq(col("value").desc, col("event_id")), 3)
      },
      time(s"asof_native_$ne") {
        val trades = events.filter(col("event_id") % 2 === 1)
          .select("event_id", "user_id", "ts")
        val quotes = events.filter(col("event_id") % 2 === 0)
          .select(col("event_id").as("qid"), col("user_id"), col("ts"), col("value"))
        AsOfJoin.asOfNative(trades, quotes, Seq("user_id"), "ts", "ts",
          Map("qid" -> "quote_id", "value" -> "qv"))
      },
      // bounded reference side (every 100th event, ~1% of facts): the
      // shuffle-both-sides exec vs the broadcast + binary-search probe
      // that never shuffles the facts — timed on the same input
      time(s"asof_bounded_native_$ne") {
        val quotes = events.filter(col("event_id") % 100 === 0)
          .select(col("event_id").as("qid"), col("user_id"), col("ts"), col("value"))
        AsOfJoin.asOfNative(events.select("event_id", "user_id", "ts"), quotes,
          Seq("user_id"), "ts", "ts", Map("qid" -> "quote_id", "value" -> "qv"))
      },
      time(s"asof_bounded_bcast_$ne") {
        val quotes = events.filter(col("event_id") % 100 === 0)
          .select(col("event_id").as("qid"), col("user_id"), col("ts"), col("value"))
        AsOfJoin.asOfBroadcast(events.select("event_id", "user_id", "ts"), quotes,
          Seq("user_id"), "ts", "ts", Map("qid" -> "quote_id", "value" -> "qv"))
      },
      time(s"range_native_$ne") {
        Relational.rangeJoinNative(
          events.select("event_id", "user_id", "ts"),
          intervalsOf(events, 10, "5 MINUTE"),
          Seq("user_id"), "ts", "start_ts", "end_ts",
          Map("interval_id" -> "interval_id"))
      },
      // LONG intervals (2 h): the bucketed form explodes each interval
      // into ~120 one-minute buckets; the native exec's cost doesn't
      // depend on interval length. Timed side by side as the evidence.
      time(s"range_long_bucketed_$ne") {
        Relational.rangeJoin(
          events.select("event_id", "user_id", "ts"),
          intervalsOf(events, 100, "2 HOURS"),
          Seq("user_id"), "ts", "start_ts", "end_ts")
      },
      time(s"range_long_native_$ne") {
        Relational.rangeJoinNative(
          events.select("event_id", "user_id", "ts"),
          intervalsOf(events, 100, "2 HOURS"),
          Seq("user_id"), "ts", "start_ts", "end_ts",
          Map("interval_id" -> "interval_id"))
      },
      time(s"minhash_pairs_${nd}_docs") {
        Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      },
      time(s"simhash_${nd}_docs") {
        Dedup.simhashes(docs, "doc_id", "text")
      },
      time(s"jaccard_pairs_${nd}_docs") {
        // LSH-routed exact Jaccard (the registered d05 plan): cost is
        // signatures + banded join, never a blocked all-pairs product
        Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      },
      time(s"lsh_ann_${nd}_vecs") {
        Similarity.lshTopK(
          embeddings.filter(col("id") < 16), embeddings.filter(col("id") >= 16),
          5, dim = 64)
      },
      time(s"dedup_clusters_${nd}_docs") {
        // full near-dup pipeline: signatures → bands → exact rerank →
        // iterative components (parallelism sized to the graph)
        Dedup.clusters(Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.5)
          .select("doc_a", "doc_b"))
      },
      time(s"contamination_${nd}_docs") {
        Dedup.contamination(docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
      },
      time(s"incremental_dedup_${nd}_docs") {
        // batch-vs-corpus anti-joins (the daily-ingest path): 20% batch
        // against an 80% known corpus, keys computed inline
        Dedup.incrementalKeep(docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      },
      time(s"sq8_rerank_${nd}_vecs") {
        // two-stage quantized retrieval: approx scan + exact rerank
        Similarity.quantizedRerankTopK(
          embeddings.filter(col("id") < 16),
          embeddings.filter(col("id") >= 16), k = 5, shortlist = 40)
      }) ++ {
      // --- incremental ingest vs full re-dedup -------------------------
      // The daily-ingest claim (Dedup.scala): with a PERSISTED known-
      // corpus key table, each batch costs anti-joins near-linear in
      // the BATCH size — not a corpus-sized recompute. Measured at 4×
      // the doc scale (per-job overhead ~1 s swamps the signal at 50k):
      // persist the 80%-corpus key table once, one untimed warmup (JIT
      // + codegen), then 2% / 10% / 20% batches against the keys and
      // the full from-scratch dedup of everything next to them. Expect
      // batch timings ≪ full, ordered by batch size above the
      // fixed-overhead floor.
      val nBig = nDocs * 4
      val docsL = spark.range(nBig).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(60) + pmod(xxhash64(col("id")), lit(60)).cast("int")),
          i => element_at(vocabCol, (pmod(xxhash64(col("id"), i), lit(vocab.size.toLong)) + 1).cast("int")))).as("text"))
      Dedup.saveIncrementalKeys(spark, "graft_smoke_keys",
        docsL.filter(col("doc_id") % 5 =!= 0), "text")
      def batchOf(pct: Int): DataFrame =
        docsL.filter(col("doc_id") % 5 === 0)
          .filter(pmod(xxhash64(col("doc_id"), lit(11)), lit(100L)) < pct * 5)
      // warmup: compile/JIT the whole incremental plan shape off-clock
      Dedup.incrementalKeepFromTables(spark, batchOf(2), "graft_smoke_keys",
          "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
      val ndL = fmt(nBig)
      Seq(2, 10, 20).map { pct =>
        time(s"incr_keys_batch${pct}pct_$ndL") {
          Dedup.incrementalKeepFromTables(spark, batchOf(pct), "graft_smoke_keys",
            "doc_id", "text")
        }
      } :+
        time(s"full_rededup_$ndL") {
          // what the incremental path avoids: exact keep-one + LSH
          // candidate pairs recomputed over the ENTIRE corpus + batch
          Dedup.keepOneByContent(docsL, "doc_id",
              graft.functions.TextOps.fingerprint(col("text")))
            .join(Dedup.minhashCandidatePairs(docsL, "doc_id", "text")
              .select(col("doc_a").as("doc_id")).distinct(),
              Seq("doc_id"), "left_anti")
        }
    }

    // --- 2x-cost linearity probes: the round-3 corpus operators ------
    // Each op runs at nDocs/2 then nDocs (after an untimed nDocs/8
    // warmup so JIT/codegen doesn't bias the half-scale number); the
    // claim under test is ≤~2x cost per 2x docs — superlinearity here
    // is a broken candidate-generation path that would melt at 100 TB.
    def linear(name: String, unit: String, run: Long => DataFrame): Seq[(String, Double)] = {
      run(math.max(nDocs / 8, 64L)).write.format("noop").mode("overwrite").save()
      val half = time(s"${name}_${fmt(nDocs / 2)}_$unit")(run(nDocs / 2))
      val full = time(s"${name}_${fmt(nDocs)}_$unit")(run(nDocs))
      println(f"[scale] $name%-28s 2x-docs cost ratio ${full._2 / half._2}%.2f (<=2x ~ linear)")
      Seq(half, full)
    }

    val linearResults =
      linear("boilerplate_lines", "docs", n =>
        TextAnalysis.dropBoilerplateLines(docsOf(n), "doc_id",
          TextAnalysis.tokenChunkLines(col("text"), 8), maxDocs = 2, joinSep = " ")) ++
      linear("bigram_lm_score", "docs", n =>
        TextAnalysis.bigramLmScore(docsOf(n), "doc_id", "text")) ++
      linear("tfidf_topk", "docs", n =>
        TextAnalysis.tfidfTopK(docsOf(n), "doc_id", "text", k = 3)) ++
      linear("semantic_dedup", "vecs", { n =>
        // build-once artifact off-clock (the registered s07 consumes a
        // persisted index the same way); the timed part is the
        // corpus-sized keeper join
        val m = Similarity.ivfIndex(embOf(n), nCentroids = 16, iters = 2)
        val timedInput = m.copy(assignments = m.assignments.localCheckpoint())
        Similarity.semanticDedup(timedInput, threshold = 0.3)
      }) ++
      linear("contrastive_pairs", "vecs", n =>
        Similarity.contrastivePairs(
          embOf(n).filter(col("id") < 16), embOf(n).filter(col("id") >= 16),
          k = 4, negLo = 0.1, negHi = 0.35)) ++
      linear("source_overlap", "docs", n =>
        Dedup.sourceOverlap(
          docsOf(n).withColumn("source",
            pmod(xxhash64(col("doc_id"), lit(11)), lit(20L)).cast("string")),
          "text", "source")) ++
      linear("substring_dedup", "docs", n =>
        Dedup.substringDupStats(docsOf(n), "doc_id", "text", k = 8)) ++
      linear("shard_assign", "docs", n =>
        TextAnalysis.shardAssign(docsOf(n), "doc_id", shards = 64)) ++
      linear("compression_ratio", "docs", n =>
        TextAnalysis.compressionRatio(docsOf(n), "doc_id", "text")) ++
      linear("random_projection", "vecs", n =>
        Similarity.randomProjection(
          embOf(n).select(col("id").as("vec_id"), col("vec").as("embedding")),
          outDim = 16, dim = 64)) ++
      linear("zorder_key", "rows", n =>
        spark.range(n).select(graft.operators.Layout.zkey(
          Seq(pmod(xxhash64(col("id")), lit(65536L)),
            pmod(xxhash64(col("id"), lit(1)), lit(65536L))), 16).as("z")))

    // --- skew stress: one hot key owning ~30% of rows ----------------
    // The uniform generators above never create a straggler; this
    // section does, then times the mitigation paths side by side.
    val skewResults = {
      val hot = spark.range(nEvents).select(
        col("id").as("event_id"),
        when(pmod(xxhash64(col("id"), lit(5)), lit(10L)) < 3, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(6)), lit(5000L))).as("user_id"),
        (pmod(xxhash64(col("id"), lit(2)), lit(49000L)).cast("double") / 100.0 + 1.0).as("value"))
      val dim = spark.range(5000L).select(col("id").as("user_id"),
        md5(col("id").cast("string")).as("uattr"))
      def withConf(pairs: (String, String)*)(body: => (String, Double)): (String, Double) = {
        val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
        pairs.foreach { case (k, v) => spark.conf.set(k, v) }
        try body finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }
      val noBcast = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      // thresholds scaled to the toy data so AQE's skew split actually
      // triggers (the default 256 MB floor is a 100 TB-cluster setting;
      // the hot partition here is ~40 MB)
      val aqeSkew = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m")
      val r = Seq(
        time(s"skew_agg_vanilla_$ne") {
          hot.groupBy("user_id").agg(
            sum(col("value").cast(graft.functions.Exact.M)).as("s"),
            count(lit(1)).as("n"))
        },
        time(s"skew_agg_salted_$ne") {
          Skew.saltedAgg(hot, Seq("user_id"), salts = 32, Seq(
            Skew.Agg("s", col("value").cast(graft.functions.Exact.M), "sum"),
            Skew.Agg("n", lit(1), "count")))
        },
        withConf(noBcast :+ ("spark.sql.adaptive.enabled" -> "false"): _*) {
          time(s"skew_join_smj_noaqe_$ne")(hot.join(dim, "user_id"))
        },
        withConf(noBcast ++ aqeSkew: _*) {
          time(s"skew_join_smj_aqe_$ne")(hot.join(dim, "user_id"))
        },
        time(s"skew_join_salted_bcast_$ne") {
          Skew.saltedBroadcastJoin(hot, dim, "user_id", salts = 32)
        },
        time(s"skew_join_plain_bcast_$ne") {
          hot.join(broadcast(dim), "user_id")
        })
      println("[scale] skew findings: algebraic aggs flatten the hot key via " +
        "map-side combine (vanilla ~ salted); for joins compare smj_noaqe " +
        "(straggler) vs smj_aqe (runtime split) vs bcast (no fact shuffle)")
      r
    }

    // --- round-7 additions: gap fill, bloom-pruned join, edit-distance
    // verify, IVF-ADC probe ------------------------------------------
    val r7Results = {
      // IVF-ADC artifacts built off-clock (the registered s12 probes a
      // persisted posting table the same way)
      val corpA = embeddings.filter(col("id") >= 16)
      val ivfA = Similarity.ivfIndex(corpA, nCentroids = 16, iters = 2)
      val (codesA, booksA) = Similarity.productQuantizeModel(
        corpA.select(col("id").as("vec_id"), col("vec").as("embedding")),
        m = 4, k = 8, iters = 2, dim = 64)
      val postingsA =
        Similarity.adcPostings(ivfA, codesA, m = 4).localCheckpoint()
      Seq(
        time(s"gap_fill_$ne") {
          // 5000 users × a 30-day span on a 600 s grid ≈ 21.6M output
          // rows — the explode fanout dominating the timing is the point
          Relational.gapFill(events, Seq("user_id"), "ts",
            avg(col("value")), stepSeconds = 600)
        },
        time(s"bloom_prune_join_$ne") {
          // 10% of user ids survive the sketch: the fact shuffle pays
          // ~10% of rows, the join removes the false positives
          val dim = spark.range(5000L).filter(col("id") % 10 === 0)
            .select(col("id").as("uid"), md5(col("id").cast("string")).as("uattr"))
          Relational.bloomPruneJoin(
            events.select("event_id", "user_id", "value"), dim,
            "user_id", "uid", expectedDimKeys = 500)
        },
        time(s"ivfadc_probe_${nd}_vecs") {
          Similarity.ivfAdcTopK(embeddings.filter(col("id") < 16), ivfA,
            postingsA, booksA, k = 5, nProbe = 4, shortlist = 40)
        })
    }

    val r7Linear =
      linear("editdist_pairs", "docs", n =>
        Dedup.editDistancePairs(docsOf(n), "doc_id", "text",
          prefixLen = 80, maxDist = 20))

    // --- round-7b: funnel, cohort retention, classifier inference,
    // perceptual image dedup ------------------------------------------
    val r7bResults = {
      val typeNames = typedlit(Seq("click", "error", "purchase", "signup", "view"))
      val typed = events.withColumn("event_type",
        element_at(typeNames,
          (pmod(xxhash64(col("event_id"), lit(4)), lit(5L)) + 1).cast("int")))
      // 256 distinct quadrant-pattern PNGs replicated across nImgs ids:
      // dup mass is pattern-bound, so pair output stays far from n² —
      // the decode+hash throughput and the band join are what's timed
      val nImgs = math.max(nDocs / 10, 1000L)
      val imgFiles = spark.range(nImgs).map { id =>
        val pat = (id % 256).toInt
        val img = new java.awt.image.BufferedImage(32, 32,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 32) {
          var x = 0
          while (x < 32) {
            val q = (if (y < 16) 2 else 0) + (if (x < 16) 1 else 0)
            val v = ((pat >> (q * 2)) & 3) * 70 + 20
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        Multimodal.MediaFile(id, "image", baos.toByteArray)
      }
      Seq(
        time(s"funnel_$ne") {
          Relational.funnelTimes(typed, col("user_id"), col("ts"), Seq(
            "signup" -> (col("event_type") === "signup"),
            "purchase" -> (col("event_type") === "purchase"),
            "error" -> (col("event_type") === "error")))
        },
        time(s"cohort_retention_$ne") {
          val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          typed
            .withColumn("t0",
              min(when(col("event_type") === "signup", col("ts"))).over(w))
            .filter(col("t0").isNotNull && col("ts") >= col("t0"))
            .withColumn("cohort_week", date_trunc("week", col("t0")))
            .withColumn("week_offset", expr(
              "(unix_micros(date_trunc('week', ts)) - unix_micros(cohort_week))" +
                " DIV 604800000000"))
            .groupBy("cohort_week", "week_offset")
            .agg(countDistinct(col("user_id")).as("n_users"),
              count(lit(1)).as("n_events"))
        },
        time(s"perceptual_pairs_${fmt(nImgs)}") {
          Multimodal.perceptualDupPairs(imgFiles, maxHamming = 3)(spark)
        })
    }
    val r7bLinear =
      linear("classifier_score", "docs", n =>
        TextAnalysis.hashedLinearScore(docsOf(n), "doc_id", "text"))

    // --- round-10: incremental cluster maintenance vs full re-cluster
    // The d16 claim: folding a batch into the persisted corpus
    // clusters costs O(batch keys + cluster table + delta edges) —
    // the artifacts (corpus key tables, old assignment) are built
    // off-clock like every persisted artifact; the timed part is one
    // batch scan + both pair joins + the pointer-jumping rounds.
    // Compare against dedup_clusters_* above (the full re-run).
    val r10Results = {
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val newB = docs.filter(col("doc_id") % 10 === 0)
      Dedup.saveNearDupKeys(spark, "graft_smoke_ndkeys", old, "doc_id", "text")
      val oldClusters = Dedup.clusters(
          Dedup.jaccardPairs(old, "doc_id", "text", threshold = 0.5)
            .select("doc_a", "doc_b"))
        .localCheckpoint()
      def maintain(): DataFrame =
        Dedup.incrementalClusters(oldClusters,
          Dedup.incrementalDeltaPairs(spark, newB, "graft_smoke_ndkeys",
            "doc_id", "text", threshold = 0.5))
      maintain().write.format("noop").mode("overwrite").save() // warmup
      Seq(time(s"incr_clusters_${nd}_docs")(maintain()))
    }
    // --- round-10: ANN index maintenance vs full retrain -------------
    // appendToIvfIndex's O(batch) claim: route a 10% batch through the
    // persisted centroids and append, vs re-running the full k-means
    // build. The append is a single broadcast-arithmetic pass + a
    // bucketed write; retrain re-reads the corpus per Lloyd round.
    val annResults = {
      val old = embeddings.filter(col("id") % 10 =!= 0)
      val delta = embeddings.filter(col("id") % 10 === 0)
      for (t <- Seq("graft_smoke_ivf_centroids", "graft_smoke_ivf_assignments"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      Similarity.saveIvfIndex(spark,
        Similarity.ivfIndex(old, nCentroids = 16, iters = 2), "graft_smoke_ivf")
      val t0 = System.nanoTime()
      Similarity.appendToIvfIndex(spark, "graft_smoke_ivf", delta, ingestId = "i1")
      val tAppend = (System.nanoTime() - t0) / 1e9
      println(f"[scale] ivf_append_10pct_${nd}_vecs  ${tAppend}%8.2f s")
      val t1 = System.nanoTime()
      Similarity.ivfIndex(embeddings, nCentroids = 16, iters = 2)
        .assignments.write.format("noop").mode("overwrite").save()
      val tRetrain = (System.nanoTime() - t1) / 1e9
      println(f"[scale] ivf_retrain_${nd}_vecs       ${tRetrain}%8.2f s")
      Seq(s"ivf_append_10pct_${nd}_vecs" -> tAppend,
        s"ivf_retrain_${nd}_vecs" -> tRetrain)
    }
    val r10Linear =
      linear("pack_sequences", "docs", n =>
        TextAnalysis.packSequences(docsOf(n), "doc_id", "text",
          contextLen = 1024L))

    // --- round-11: touched-component maintenance — cost flat in the
    // CORPUS at fixed delta. The r10 form re-walked the full cluster
    // table through the CC rounds every ingest (O(cluster table)); the
    // touched-component form's CC sees only components adjacent to the
    // delta, so the SAME delta folded into a 2x corpus should cost
    // about the same, not 2x (the residual growth is the columnar
    // key-table/assignment scans).
    val r11Results = {
      val delta = docsOf(nDocs / 2).filter(col("doc_id") % 10 === 0)
      def maintainAt(n: Long): (String, Double) = {
        val tag = fmt(n)
        val keysName = s"graft_smoke_ndk_$tag"
        val corpus = docsOf(n).filter(col("doc_id") % 10 =!= 0)
        Dedup.saveNearDupKeys(spark, keysName, corpus, "doc_id", "text")
        val oldClusters = Dedup.clusters(
            Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.5)
              .select("doc_a", "doc_b"))
          .localCheckpoint()
        def maintain(): DataFrame =
          Dedup.incrementalClusters(oldClusters,
            Dedup.incrementalDeltaPairs(spark, delta, keysName,
              "doc_id", "text", threshold = 0.5))
        maintain().write.format("noop").mode("overwrite").save() // warmup
        time(s"incr_clusters_fixed_delta_${tag}_corpus")(maintain())
      }
      Seq(maintainAt(nDocs / 2), maintainAt(nDocs))
    }

    // --- round-11: the append discipline's operational taxes, measured
    // (a) compaction: many small per-ingest partitions -> fold -> the
    //     same probe join, faster, over ~buckets files instead of
    //     ingests×buckets; (b) the recall monitor's cost at corpus
    //     scale — one bounded brute pass, the price of ground truth.
    val r11bResults = {
      val docs25 = docsOf(nDocs / 2)
      spark.sql("DROP TABLE IF EXISTS graft_smoke_cpt_ndsh")
      spark.sql("DROP TABLE IF EXISTS graft_smoke_cpt_ndband")
      Dedup.saveNearDupKeys(spark, "graft_smoke_cpt",
        docs25.filter(col("doc_id") % 12 === 0), "doc_id", "text")
      for (d <- 1 to 11)
        Dedup.appendNearDupKeys(spark, "graft_smoke_cpt",
          docs25.filter(col("doc_id") % 12 === d), "doc_id", "text",
          ingestId = f"day$d%02d")
      def manifestFiles(t: String): Long = {
        val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
          .filter(col("col_name") === "Location")
          .select("data_type").as[String].head()
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(new java.net.URI(loc)))
          .count(_.getName.endsWith(".parquet")).toLong
      }
      def probe(): DataFrame = spark.table("graft_smoke_cpt_ndsh")
        .join(spark.table("graft_smoke_cpt_ndsh")
          .select(col("doc_id"), col("sh").as("sh2")), "doc_id")
      probe().write.format("noop").mode("overwrite").save() // warmup
      val filesBefore = manifestFiles("graft_smoke_cpt_ndsh")
      val before = time(s"cpt_probe_12ingests_${filesBefore}_files")(probe())
      val t0 = System.nanoTime()
      graft.sources.Bucketing.compactIngests(spark, "graft_smoke_cpt_ndsh",
        Seq("doc_id"), buckets = 8, keepLast = 1)
      val tCompact = (System.nanoTime() - t0) / 1e9
      println(f"[scale] cpt_compact_fold             ${tCompact}%8.2f s")
      val filesAfter = manifestFiles("graft_smoke_cpt_ndsh")
      val after = time(s"cpt_probe_compacted_${filesAfter}_files")(probe())
      println(s"[scale] cpt files $filesBefore -> $filesAfter")

      val t1 = System.nanoTime()
      val rep = Similarity.ivfRecallCheck(spark, "graft_smoke_ivf",
        k = 10, nProbe = 2, sampleN = 64, minRecall = 0.9)
      val tRecall = (System.nanoTime() - t1) / 1e9
      println(f"[scale] recall_check_${nd}_vecs        ${tRecall}%8.2f s " +
        f"(recall=${rep.recall}%.3f retrain=${rep.retrain})")
      Seq(before, "cpt_compact_fold" -> tCompact, after,
        s"recall_check_${nd}_vecs" -> tRecall)
    }

    // --- round-12: PQ encoding retrain — the ACT half for encoding
    // drift. Cost model to verify: retrainPqBooks = m sub-k-means over
    // the held vectors + ONE corpus re-encode pass (O(corpus), paid on
    // the monitoring cadence) vs the O(batch) adc append it
    // complements on ordinary days. Uses the annResults index (old +
    // the i1 ingest already appended).
    val r12Results = {
      val old = embeddings.filter(col("id") % 10 =!= 0)
      val delta = embeddings.filter(col("id") % 10 === 0)
      for (t <- Seq("graft_smoke_pq_codes", "graft_smoke_pq_books",
          "graft_smoke_pq_adc"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      val ivf = Similarity.loadIvfIndex(spark, "graft_smoke_ivf")
      val (codes, books) = Similarity.productQuantizeModel(
        old.select(col("id").as("vec_id"), col("vec").as("embedding")),
        m = 4, k = 8, iters = 2, dim = 64)
      Similarity.savePqModel(spark, "graft_smoke_pq", codes, books)
      Similarity.ensureAdcPostings(spark, "graft_smoke_pq", ivf, codes, m = 4)
      val t0 = System.nanoTime()
      Similarity.appendToAdcPostings(spark, "graft_smoke_ivf",
        "graft_smoke_pq", delta, m = 4, ingestId = "i1", dim = 64)
      val tAppend = (System.nanoTime() - t0) / 1e9
      println(f"[scale] adc_append_10pct_${nd}_vecs  ${tAppend}%8.2f s")
      val t1 = System.nanoTime()
      Similarity.retrainPqBooks(spark, "graft_smoke_ivf", "graft_smoke_pq",
        m = 4, codebookK = 8, iters = 2, dim = 64)
      val tRetrain = (System.nanoTime() - t1) / 1e9
      println(f"[scale] pq_retrain_reencode_${nd}_vecs ${tRetrain}%8.2f s")
      Seq(s"adc_append_10pct_${nd}_vecs" -> tAppend,
        s"pq_retrain_reencode_${nd}_vecs" -> tRetrain)
    }

    // --- round-13: deletion propagation + the lexical-index probe ----
    // (a) forget — the O(affected partitions) claim, measured: ids
    //     from ONE of 8 ingests; the targeted path rewrites that one
    //     partition, the bulk (compaction-cadence) path folds the
    //     whole store once. Request-cadence deletions should ride the
    //     first, source delistings the second.
    // (b) BM25 — probing the persisted posting family vs re-deriving
    //     corpus tf/df from raw text per call (s16's pre-r13 lexical
    //     leg). The probe should be corpus-size-independent.
    val r13Results = {
      for (t <- Seq("graft_smoke_fgt_ndsh", "graft_smoke_fgt_ndband",
          "graft_smoke_lex_post", "graft_smoke_lex_lexstats"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      val docs25 = docsOf(nDocs / 2)
      Dedup.saveNearDupKeys(spark, "graft_smoke_fgt",
        docs25.filter(col("doc_id") % 8 === 0), "doc_id", "text")
      for (d <- 1 to 7)
        Dedup.appendNearDupKeys(spark, "graft_smoke_fgt",
          docs25.filter(col("doc_id") % 8 === d), "doc_id", "text",
          ingestId = f"day$d%02d")
      val idsA = Seq(3L, 11L, 19L, 27L, 35L)  // all in day03
      val t0 = System.nanoTime()
      val nA = Forget.forgetFromTable(spark, "graft_smoke_fgt_ndsh",
        Seq("doc_id"), "doc_id", idsA)
      val tTargeted = (System.nanoTime() - t0) / 1e9
      println(f"[scale] forget_targeted_1of8_parts  ${tTargeted}%8.2f s " +
        s"($nA rows)")
      val idsB = Seq(43L, 51L, 59L, 67L, 75L).toDF("doc_id")
      val t1 = System.nanoTime()
      Forget.purgeTable(spark, "graft_smoke_fgt_ndsh", Seq("doc_id"),
        "doc_id", idsB, keepLast = 1)
      val tFold = (System.nanoTime() - t1) / 1e9
      println(f"[scale] forget_fullstore_fold       ${tFold}%8.2f s")

      TextAnalysis.saveLexicalIndex(spark, "graft_smoke_lex", docs,
        "doc_id", "text")
      val qterms = (0 until 8).flatMap(q => Seq(0, 7, 14).map(o =>
          (q.toLong, vocab((q + o) % vocab.size))))
        .toDF("query_id", "term").localCheckpoint(true)
      val probe = time(s"bm25_probe_tables_$nd") {
        TextAnalysis.bm25FromTables(spark, "graft_smoke_lex", qterms, topN = 20)
      }
      val rederive = time(s"bm25_rederive_inline_$nd") {
        TextAnalysis.bm25PerQuery(docs, "doc_id", "text", qterms, topN = 20)
      }
      Seq("forget_targeted_1of8_parts" -> tTargeted,
        "forget_fullstore_fold" -> tFold, probe, rederive)
    }

    // --- round-13b: the PERSISTED cluster fold vs bootstrap rebuild —
    // the r10/r11 probes time the in-memory incrementalClusters
    // computation; this times the full family op (fold + batch-
    // partition land + bridged-partition relabel rewrites) against
    // re-clustering and re-persisting the corpus from scratch.
    val r13bResults = {
      val docs25 = docsOf(nDocs / 2)
      val old = docs25.filter(col("doc_id") % 10 =!= 0)
      val newB = docs25.filter(col("doc_id") % 10 === 0)
      for (t <- Seq("graft_smoke_clf_ndband", "graft_smoke_clf_ndsh",
          "graft_smoke_clf_clusters"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      Dedup.saveNearDupKeys(spark, "graft_smoke_clf", old, "doc_id", "text")
      val t0 = System.nanoTime()
      Dedup.saveClusterAssignments(spark, "graft_smoke_clf",
        Dedup.clusters(Dedup.jaccardPairs(old, "doc_id", "text",
          threshold = 0.5).select("doc_a", "doc_b")))
      val tBoot = (System.nanoTime() - t0) / 1e9
      println(f"[scale] cluster_bootstrap_persisted  ${tBoot}%8.2f s")
      val t1 = System.nanoTime()
      Dedup.appendClusterAssignments(spark, "graft_smoke_clf", newB,
        "doc_id", "text", threshold = 0.5, ingestId = "i1")
      val tFold2 = (System.nanoTime() - t1) / 1e9
      println(f"[scale] cluster_append_persisted     ${tFold2}%8.2f s")
      Seq("cluster_bootstrap_persisted" -> tBoot,
        "cluster_append_persisted" -> tFold2)
    }

    // --- round-14: strict-erasure rc ledger + filtered ANN -----------
    // (a) rc fingerprints — the forget DECREMENT is an O(batch) ledger
    //     append (never a table rewrite); the physical ERASE is one
    //     compaction fold, paid at compaction cadence. Measured apart
    //     so the request-cadence cost is visible on its own.
    // (b) filtered ANN — the posting-metadata IVF probe vs filtered
    //     brute force: the probe reads nProbe cells per query, brute
    //     scores the full slice; the gap is the 100 TB argument.
    val r14Results = {
      spark.sql("DROP TABLE IF EXISTS graft_smoke_rc_normrc")
      Dedup.saveRcFingerprints(spark, "graft_smoke_rc", docs, "text")
      val victims = docs.filter(col("doc_id") % 1000 === 3).localCheckpoint(true)
      val t0 = System.nanoTime()
      Forget.forgetFingerprints(spark, "graft_smoke_rc", victims, "text", "r14")
      val tDec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] rc_forget_ledger_${nd}_docs ${tDec}%8.2f s")
      val t1 = System.nanoTime()
      Dedup.compactRcFingerprints(spark, "graft_smoke_rc")
      val tErase = (System.nanoTime() - t1) / 1e9
      println(f"[scale] rc_compact_erase_${nd}_docs ${tErase}%8.2f s")
      for (t <- Seq("graft_smoke_ivfl_centroids", "graft_smoke_ivfl_assignments"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      // built TWICE (fresh attribute ids): a query frame checkpointed
      // off the same lineage as the candidates would make the lang
      // equi-join a conflicting self-reference
      def lembOf(): DataFrame = embOf(nDocs).withColumn("lang",
        concat(lit("l"), pmod(col("id"), lit(8L))))
      Similarity.saveIvfIndex(spark,
        Similarity.ivfIndex(lembOf().filter(col("id") >= 64), nCentroids = 64,
          iters = 2, extraCols = Seq("lang")), "graft_smoke_ivfl")
      val model14 = Similarity.loadIvfIndex(spark, "graft_smoke_ivfl")
      val qs14 = lembOf().filter(col("id") < 64).localCheckpoint(true)
      val fProbe = time(s"ann_filtered_ivf_${nd}_vecs") {
        Similarity.ivfFilteredTopK(qs14, model14, k = 10, nProbe = 4, "lang")
      }
      val fBrute = time(s"ann_filtered_brute_${nd}_vecs") {
        Similarity.filteredTopK(qs14, lembOf().filter(col("id") >= 64), 10, "lang")
      }
      Seq("rc_forget_ledger" -> tDec, "rc_compact_erase" -> tErase,
        fProbe, fBrute)
    }

    // --- round-16: hot-cell cap — capped vs uncapped SemDeDup cost on
    // a deliberately skewed clustering (one cell holds ~50% of the
    // corpus, the routing-drift failure mode s20 watches for). The
    // uncapped report pays O((n/2)²) pairs in the hot cell; the capped
    // one degrades that cell to the keeper rule (O(n/2)) and stays
    // all-pairs-exact everywhere else.
    val r16Results = {
      val n = math.max(nDocs / 8, 2048L)
      val assigns = embOf(n).select(col("id"), col("vec"),
        when(pmod(col("id"), lit(2L)) === 0L, lit(0))
          .otherwise(pmod(col("id"), lit(64L)).cast("int")).as("cid"))
        .localCheckpoint(true)
      val m = Similarity.IVFModel(
        Array.tabulate(64)(i => Array.tabulate(64)(j =>
          if (j == i) 1.0 else 0.0)), assigns)
      val uncapped = time(s"semdedup_skewed_allpairs_${n}_vecs") {
        Similarity.semDedupCellStats(m, 0.45)
      }
      val capped = time(s"semdedup_skewed_capped_${n}_vecs") {
        Similarity.semDedupCellStatsCapped(m, 0.45, maxCell = 256)
      }
      Seq(uncapped, capped)
    }

    // --- round-17: pathological-long-doc substring-rewrite probe —
    // the d23 boundary walk is O(n_tokens + n_spans) per doc; the old
    // filter+exists pass was O(n·s) ≈ n²/k (a 1M-token doc with ~n/16
    // marked spans would pay ~4·10¹⁰ span comparisons in ONE task).
    // Content: 8-token shared "dup" blocks (repeated across AND within
    // docs) separated by 8 per-doc-unique tokens, so marked windows sit
    // > k apart and every block becomes its own span. Two lengths pin
    // per-doc linearity.
    val r17Results = {
      def longDocs(nTok: Int): DataFrame = spark.range(2).select(
        col("id").as("doc_id"),
        // pmod(i,16) < 8, NOT `/ 8 % 2`: Spark '/' on integrals is
        // DOUBLE division, which made the first cut of this probe emit
        // isolated dup tokens (no duplicated 8-gram anywhere) and time
        // the trivial zero-span path
        concat_ws(" ", transform(sequence(lit(0), lit(nTok - 1)), i =>
          when(pmod(i, lit(16)) < lit(8),
            concat(lit("dup"), pmod(i.cast("long"), lit(200L))))
            .otherwise(concat(lit("u"), col("id"), lit("_"), i))))
          .as("text"))
      Seq(500000, 1000000).map { n =>
        time(s"substr_rewrite_longdoc_${n}_tokens") {
          Dedup.substringDedupRewrite(longDocs(n), "doc_id", "text", k = 8)
        }
      }
    }

    val allResults = results ++ linearResults ++ skewResults ++ r7Results ++
      r7Linear ++ r7bResults ++ r7bLinear ++ r10Results ++ r10Linear ++
      annResults ++ r11Results ++ r11bResults ++ r12Results ++ r13Results ++
      r13bResults ++ r14Results ++ r16Results ++ r17Results
    println(graft.Json.write(ListMap("metric" -> "scale_smoke",
      "nEvents" -> nEvents, "nDocs" -> nDocs,
      "queries" -> ListMap.from(allResults))))
    spark.stop()
  }
}
