package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Exact, TextOps}

/** Text analysis for training-data pipelines: marker-token language ID,
  * quality scoring, token statistics, and content fingerprinting — all
  * single-pass, codegen'd column expressions over the documents table.
  */
object TextAnalysis {
  /** Marker vocabularies for the n-gram/stopword language-ID heuristic.
    * Fixed, documented sets: scores are occurrence counts of each
    * language's function words in the token stream. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "una", "es"),
    "fr" -> Seq("le", "les", "des", "une", "est"),
    "zh" -> Seq("的", "是", "在"))

  /** Per-doc language scores + argmax prediction (first language in
    * `markers` order wins ties — deterministic). The token array is
    * materialized in its own projection first: five score columns
    * reference it, and an inlined split(lower(text)) would be
    * re-evaluated once per score (interpreted HOFs get no CSE). */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = docs
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(lower(col(textCol))).as("__toks"))
      .select(
        (col("doc_id") +:
          markers.map { case (l, ws) =>
            TextOps.markerCount(col("__toks"), ws).as(s"s_$l")
          }): _*)
    val langs = markers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), els) =>
        val rest = langs.drop(i + 1).map(o => col(s"s_$o"))
        when(col(s"s_$l") >= (if (rest.size == 1) rest.head else greatest(rest: _*)), l)
          .otherwise(els)
    }
    scored.withColumn("predicted", pred)
  }

  /** Quality metrics per document: token counts, uniqueness ratio, mean
    * token length, and a boolean gate — the usual cheap pre-filters
    * before expensive dedup/embedding stages. */
  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .withColumn("n_tok", size(TextOps.tokens(col("t"))).cast("long"))
      .withColumn("n_uniq", size(array_distinct(TextOps.tokens(col("t")))).cast("long"))
      // RAW quotients, deliberately unrounded: integer counts divide to
      // bit-identical doubles on every engine, while round() diverges on
      // exact 7-digit halves (n_tok = 128: Spark half-up vs DuckDB
      // half-to-even — the q48 class)
      .withColumn("uniq_ratio", col("n_uniq").cast("double") / col("n_tok"))
      .withColumn("avg_tok_len",
        length(replace(col("t"), lit(" "), lit(""))).cast("double") / col("n_tok"))
      // gate on the UNROUNDED ratio (same as qualityPredicate and the
      // t02 oracle) — the rounded uniq_ratio display column could round
      // a ratio in (0.2, 0.2 + 5e-7) down onto the threshold
      .withColumn("is_quality",
        col("n_tok").between(10, 1000) &&
          (col("n_uniq").cast("double") / col("n_tok") > 0.2))
      .drop("t")
  }

  /** The is_quality gate as a standalone predicate — for single-scan
    * use inside composed pipelines (p01), where materializing the full
    * metrics frame and joining back would force extra corpus scans.
    * Raw (unrounded) ratio, matching the oracle's comparison. */
  def qualityPredicate(textCol: Column): Column = {
    val toks = TextOps.tokens(textCol)
    size(toks).between(10, 1000) &&
      (size(array_distinct(toks)).cast("double") / size(toks) > 0.2)
  }

  /** Corpus token statistics by language: total/distinct token counts and
    * document counts — a single explode + hash aggregation. */
  def tokenStats(docs: DataFrame, textCol: String, langCol: String,
                 idCol: String): DataFrame = {
    docs.select(col(langCol).as("lang"), col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens_total"),
        countDistinct(col("word")).as("n_distinct_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))
  }

  /** Character-trigram language profiles — the n-gram flavor of the
    * language-ID heuristic (word-marker scoring above is the
    * stopword flavor). Trigrams chosen from each language's highest-
    * frequency character sequences. */
  val charTrigrams: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", " th", "ing", "and"),
    "de" -> Seq("der", "ein", "ich", "sch", "und"),
    "es" -> Seq(" de", "los", "ión", "ent", "que"),
    "fr" -> Seq("les", " le", "ent", "de ", "une"),
    "zh" -> Seq("的", "是", "在"))

  /** Per-doc char-trigram scores + argmax (same deterministic tie
    * order as [[langId]]). One pass: trigram generation and scoring
    * are codegen'd SQL-lambda expressions. Each language is scored
    * over grams of its own marker length (zh markers are single
    * characters — comparing them against 3-char grams would never
    * match, leaving g_zh stuck at 0). */
  def langIdCharNgram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // lower(text) is materialized once (five score columns reference
    // it); each score is a fused native expression that slides the
    // n-char window and counts marker hits — no gram array is ever
    // built. The original inlined transform(sequence..substring) form
    // re-evaluated lower(text) per gram per language: O(5·len²) per
    // doc, measured 18s at sf0.1 vs ~1s for the fused form.
    val lowered = docs.select(col(idCol).as("doc_id"),
      lower(col(textCol)).as("__lt"))
    val scored = lowered.select(
      (col("doc_id") +:
        charTrigrams.map { case (l, gs) =>
          graft.plans.SetExprs.charGramMarkerCount(col("__lt"), gs, gs.head.length)
            .as(s"g_$l")
        }): _*)
    val langs = charTrigrams.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), els) =>
        val rest = langs.drop(i + 1).map(o => col(s"g_$o"))
        when(col(s"g_$l") >= (if (rest.size == 1) rest.head else greatest(rest: _*)), l)
          .otherwise(els)
    }
    scored.withColumn("predicted", pred)
  }

  /** BPE-ish regex tokenization (letter runs / digit runs / single
    * punctuation, the usual pre-tokenizer shape) + a polynomial rolling
    * hash over the token stream — a cheap order-sensitive document
    * fingerprint (two docs with the same words in different order get
    * different hashes, unlike the bag-of-words md5 path). All integer
    * arithmetic, so it is engine-exact. */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def tokenRolling(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      // the regex array gets its own projection: it was referenced
      // twice (size + the fold) and interpreted HOFs get no CSE, so
      // the inline form ran regexp_extract_all TWICE per row
      .select(col(idCol).as("doc_id"),
        regexp_extract_all(lower(col(textCol)), lit(BpeishPattern), lit(0))
          .as("__rt"))
      .select(col("doc_id"),
        size(col("__rt")).cast("long").as("n_regex_tokens"),
        // native fold (plans.RollingTokenHash) — replaces the
        // interpreted transform+aggregate lambda pair, same
        // (h*131 + ascii + length) mod p arithmetic
        graft.plans.TextHash.rollingTokenHash(col("__rt")).as("roll_hash"))

  /** Deterministic train/val/test assignment by content-independent
    * id hash — reproducible across runs, engines, and partitionings
    * (no RNG, no sampling state). The first hex nibble of md5(id)
    * buckets 0-15: 13/16 train (~81%), 2/16 val (~12.5%), 1/16 test. */
  def hashSplit(docs: DataFrame, idCol: String): DataFrame = {
    val nibble = substring(md5(col(idCol).cast("string")), 1, 1)
    docs.withColumn("split",
      when(nibble < "d", "train").when(nibble < "f", "val").otherwise("test"))
  }

  /** Deterministic stratified sampling — reproducible across runs,
    * engines, and partitionings (no RNG, no sampling state, the
    * [[hashSplit]] family): a row is kept iff the first 8 hex chars
    * of md5(id), taken mod 10000, fall under its stratum's rate in
    * basis points. Membership depends ONLY on (id, rate), so samples
    * are stable under repartitioning, nest monotonically (raising a
    * rate only ADDS rows — refreshing a 5% eval slice to 10% keeps
    * the old rows), and compose across tables sharing ids. The 32-bit
    * prefix makes the mod-10000 bias ~2e-6 relative — negligible
    * against any statistical use of a sample. One narrow scan, filter
    * fully map-side; at 100 TB this is the only sampling shape that
    * needs no shuffle and no seed coordination. */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
                       ratesBp: Map[String, Int],
                       defaultBp: Int): DataFrame = {
    (ratesBp.values.toSeq :+ defaultBp).foreach(r =>
      require(r >= 0 && r <= 10000, s"rate must be in [0, 10000] bp, got $r"))
    val bucket = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(10000L))
    val rate = ratesBp.foldLeft(lit(defaultBp.toLong)) {
      case (acc, (stratum, bp)) =>
        when(col(strataCol) === stratum, lit(bp.toLong)).otherwise(acc)
    }
    docs.filter(bucket < rate)
  }

  /** Token-distribution drift between two corpus segments: per-term
    * KL contribution p·ln(p/q) with add-one smoothing over the union
    * vocabulary, top-k most divergent terms — the drift monitor a
    * pipeline runs when a new crawl/source lands (which terms does
    * segment A over-represent vs B?). One explode + one hash agg over
    * the union vocab, two scalar totals, then a distributed
    * TakeOrderedAndProject — linear end to end. Cross-engine floats:
    * counts stay integer until the two exact int→double divisions;
    * ln per the t16/t17 discipline; contribution rounded 6dp with
    * term tiebreak. */
  def tokenDrift(docs: DataFrame, textCol: String, segCol: String,
                 segA: String, segB: String, k: Int): DataFrame = {
    val toks = docs.filter(col(segCol).isin(segA, segB))
      .select(col(segCol).as("seg"),
        explode(TextOps.tokens(col(textCol))).as("term"))
    val counts = toks.groupBy("term")
      .agg(sum(when(col("seg") === segA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("seg") === segB, 1L).otherwise(0L)).as("cb"))
    val row = counts
      .agg(coalesce(sum("ca"), lit(0L)), coalesce(sum("cb"), lit(0L)),
        count(lit(1))).collect().head
    val Array(na, nb, v) = row.toSeq.map(_.toString.toLong).toArray
    counts
      .withColumn("p", (col("ca") + 1L) / lit((na + v).toDouble))
      .withColumn("q", (col("cb") + 1L) / lit((nb + v).toDouble))
      .withColumn("kl_term", round(col("p") * log(col("p") / col("q")), 6))
      .orderBy(col("kl_term").desc, col("term")).limit(k)
      .select("term", "ca", "cb", "kl_term")
  }

  /** Corpus vocabulary: the `size` most frequent tokens, id = dense
    * frequency rank (term tiebreak) — the word↔id table a tokenizer
    * training step exports. Top-V selection is the DISTRIBUTED
    * TakeOrderedAndProject over the term-count table (never a global
    * sort of all distinct terms); only the V surviving rows pass
    * through the single-partition ranking window, so the window's
    * "one partition" is V rows by construction. */
  def buildVocab(docs: DataFrame, textCol: String, size: Int): DataFrame = {
    val cnt = docs.select(explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("term"))
    cnt.orderBy(col("c").desc, col("term")).limit(size)
      .withColumn("id", row_number().over(w).cast("long"))
      .select("term", "id", "c")
  }

  /** Encode documents to vocab-id sequences (the tokenize-to-ids step
    * of training-data prep): per doc, the ids of its in-vocab tokens
    * in ORIGINAL token order, plus n_tok / n_in_vocab coverage counts.
    * OOV tokens are dropped (coverage is the point of the counts).
    * The vocab (V rows) broadcasts; token order survives the groupBy
    * via sort_array over (pos, id) structs — no assumption that
    * collect_list preserves order, because it doesn't. */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
                 vocab: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(TextOps.tokens(col(textCol)))).toDF("doc_id", "pos", "term")
    val enc = toks.join(broadcast(vocab.select("term", "id")), Seq("term"))
      .groupBy("doc_id")
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("id")))),
          x => x.getField("id")).as("ids"),
        count(lit(1)).as("n_in_vocab"))
    docs.select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tok"))
      .join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_in_vocab"), lit(0L)).as("n_in_vocab"),
        coalesce(col("ids"), array().cast("array<long>")).as("ids"))
  }

  /** BM25 ranked retrieval over the corpus (Robertson/Sparck Jones,
    * k1/b defaults): keyword search, the lexical complement of the
    * s-series vector search. Scores only documents containing at
    * least one query term (the inverted-index access path: the tf
    * table is term-keyed, so a query touches |query| posting lists,
    * never the corpus); idf uses the +1 form, ln rounded at 6dp per
    * the t16/t17 cross-engine float discipline. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // two corpus scalars, exact integer sums until the one division;
    // sum() is SQL NULL on an empty corpus -> coalesce, and the match
    // join below is then empty so neither scalar divides anything
    val Array(nDocs, sumDl) = docs
      .agg(count(lit(1)),
        coalesce(sum(size(TextOps.tokens(col(textCol))).cast("long")), lit(0L)))
      .collect().head.toSeq.map(_.toString.toLong).toArray
    // the inverted-index access path: terms filter to the query BEFORE
    // the shuffle, so the (doc, term) aggregation carries only posting
    // rows of the |query| terms -- never the corpus term table
    val matched = docs.select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("dl"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(query: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    matched
      .withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      // per-(doc,term) part rounded at 6dp, then DECIMAL-summed -- the
      // t16 discipline: the sum is order-independent and cross-engine
      // dl/avgdl spelled as (b*dl)*n / sum_dl: every step before the
      // one division is EXACT in ieee754 (b has few mantissa bits, the
      // products stay < 2^53), and the final division is correctly
      // rounded -- so the oracle reproduces it bit-for-bit by using
      // the same left-associative order
      .withColumn("part", round(col("idf") * (col("tf") * (k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") *
          lit(nDocs.toDouble) / lit(sumDl.toDouble))), 6))
      .groupBy("doc_id")
      // DECIMAL(30,10) (Exact.dsum), NOT the money-scale (18,4): the
      // 6dp parts land on exact 4dp half boundaries ~1% of the time,
      // where Spark's double→decimal (HALF_UP over shortest repr) and
      // DuckDB's binary-value rounding can diverge — 10 fractional
      // digits hold every 6dp addend losslessly, so the sum is exact
      .agg(graft.functions.Exact.dsum(col("part")).as("score"),
        count(lit(1)).as("n_matched"))
  }

  /** Per-QUERY [[bm25]]: many keyword queries ranked against the
    * corpus in ONE plan — the lexical leg of hybrid retrieval (s16).
    * `qterms` is the tiny (query_id, term) relation (e.g. each
    * query's top-tf-idf terms); it broadcasts twice: once distinct-
    * by-term to filter the posting stream (the inverted-index access
    * path — the corpus explode carries only rows whose term ANY query
    * uses, never the full term table), once to fan matched postings
    * out to the queries that asked for them. df/idf are corpus
    * properties computed once per term, shared across queries; the
    * per-(query, doc, term) parts round 6dp and DECIMAL-sum per the
    * t16/t24 discipline, ranks tie-break on doc id. */
  def bm25PerQuery(docs: DataFrame, idCol: String, textCol: String,
                   qterms: DataFrame, topN: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val Array(nDocs, sumDl) = docs
      .agg(count(lit(1)),
        coalesce(sum(size(TextOps.tokens(col(textCol))).cast("long")), lit(0L)))
      .collect().head.toSeq.map(_.toString.toLong).toArray
    val qt = qterms.select(col("query_id"), col("term")).distinct()
    // materialized once (lazy local checkpoint): the matched-posting
    // relation is BOUNDED (docs containing a query term × terms), and
    // it feeds BOTH the df reduction and the scoring join — without
    // the checkpoint the corpus explode runs twice
    val posting = docs.select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("dl"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .join(broadcast(qt.select("term").distinct()), "term")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .localCheckpoint(false)
    bm25FromPostings(posting, qt, nDocs, sumDl, topN, k1, b)
  }

  /** The shared BM25 scoring core over a MATCHED-POSTING relation
    * (doc_id, term, tf, dl — only rows whose term some query asked
    * for): df per term from the postings themselves (two queries
    * sharing a term must see the same df, and a doc lands exactly once
    * so the count is exact), 6dp-rounded parts DECIMAL-summed per the
    * t16/t24 discipline. One definition feeds the inline path
    * ([[bm25PerQuery]]) and the persisted-index probe
    * ([[bm25FromTables]]) so their math cannot drift. */
  private def bm25FromPostings(posting: DataFrame, qt: DataFrame,
                               nDocs: Long, sumDl: Long, topN: Int,
                               k1: Double, b: Double): DataFrame = {
    val dft = posting.groupBy("term").agg(count(lit(1)).as("df"))
    val parts = posting.join(broadcast(dft), "term")
      .join(broadcast(qt), "term")
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("part", round(col("idf") * (col("tf") * (k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") *
          lit(nDocs.toDouble) / lit(sumDl.toDouble))), 6))
    val scored = parts.groupBy("query_id", "doc_id")
      .agg(graft.functions.Exact.dsum(col("part")).as("score"),
        count(lit(1)).as("n_matched"))
    Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("score").desc, col("doc_id")), topN)
  }

  /** Persist the corpus-side BM25 retrieval index as a MAINTAINED
    * bucketed family — the lexical counterpart of the IVF/ADC posting
    * tables, so per-query retrieval probes posting LISTS instead of
    * re-deriving corpus tf/df/length stats from raw text on every
    * call (at 100 TB: a full text scan per query batch):
    *   - `{name}_post` (term, doc_id, tf, dl), bucketed and sorted on
    *     term — a query's probe reads only its terms' buckets (bucket
    *     pruning on the term IN filter), never corpus text;
    *   - `{name}_lexstats` (n_docs, sum_dl) — one row per ingest with
    *     that batch's corpus-scalar CONTRIBUTIONS; readers SUM across
    *     rows, so appends (and compaction folds, which merely re-stamp
    *     rows) never recompute them.
    * tf/dl stay RAW: k1/b/idf are query-time math, so a parameter
    * change never rebuilds the index; df is derived per probe from the
    * matched posting lists (exact — a doc lands in exactly one
    * ingest). Both members ride [[graft.sources.Bucketing
    * .writeBucketedIngest]]: replay-idempotent, audit-visible,
    * compactable (the stats member's bucket spec on its n_docs column
    * is vestigial — the table is a row per ingest — but keeps the
    * whole family on one writer discipline). */
  def saveLexicalIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                       docs: DataFrame, idCol: String, textCol: String,
                       buckets: Int = 8): Unit =
    writeLexicalIndex(spark, name, docs, idCol, textCol, buckets,
      ingestId = "base", overwrite = true)

  /** Per-ingest maintenance for [[saveLexicalIndex]]'s tables: the
    * batch's postings and stat contributions land under `ingestId`
    * (dynamic partition overwrite — replay-idempotent). Doc ids must
    * be disjoint across ingests, the same contract every doc-keyed
    * family carries. */
  def appendLexicalIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                         batch: DataFrame, idCol: String, textCol: String,
                         ingestId: String, buckets: Int = 8): Unit =
    writeLexicalIndex(spark, name, batch, idCol, textCol, buckets,
      ingestId, overwrite = false)

  /** ONE writer for build and maintenance (the writeIncrementalKeys
    * discipline): posting projection, stats math, and bucket specs
    * cannot drift between bootstrap and append. */
  private def writeLexicalIndex(spark: org.apache.spark.sql.SparkSession,
                                name: String, docs: DataFrame, idCol: String,
                                textCol: String, buckets: Int,
                                ingestId: String, overwrite: Boolean): Unit = {
    import spark.implicits._
    val posting = docs.select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("dl"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .select("term", "doc_id", "tf", "dl")
    graft.sources.Bucketing.writeBucketedIngest(spark, posting,
      s"${name}_post", Seq("term"), buckets, ingestId, overwrite)
    val Array(nDocs, sumDl) = docs
      .agg(count(lit(1)),
        coalesce(sum(size(TextOps.tokens(col(textCol))).cast("long")), lit(0L)))
      .collect().head.toSeq.map(_.toString.toLong).toArray
    graft.sources.Bucketing.writeBucketedIngest(spark,
      Seq((nDocs, sumDl)).toDF("n_docs", "sum_dl"),
      s"${name}_lexstats", Seq("n_docs"), 1, ingestId, overwrite)
  }

  /** [[bm25PerQuery]] probing the PERSISTED index instead of raw text
    * — the operational retrieval path: corpus scalars are one sum over
    * the tiny stats table, and the posting scan carries a literal
    * term-IN filter (the query set is bounded by contract — its
    * distinct terms collect driver-side) so bucket pruning reads only
    * the matched terms' buckets. No document text is touched anywhere
    * in the probe (plan-locked). Results are IDENTICAL to the inline
    * path over the same corpus: same posting rows, same df, same
    * scoring core. */
  def bm25FromTables(spark: org.apache.spark.sql.SparkSession, name: String,
                     qterms: DataFrame, topN: Int,
                     k1: Double = 1.2, b: Double = 0.75,
                     coFamilies: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    // commit-visibility (no-op for families without a _commits table):
    // the writer lands postings THEN stats — an uncommitted ingest must
    // be invisible to BOTH reads or scores would mix a posting set with
    // a mismatched corpus-scalar set. `coFamilies` extends the gate
    // ACROSS families for composed reads ([[graft.sources.FamilyCommit
    // .visibleAcross]]): a hybrid-retrieval caller passes the vector
    // leg's family so an ingest committed here but not yet there stays
    // out of BOTH legs — fused ranks never mix a half-landed ingest.
    val fams = name +: coFamilies
    val Array(nDocs, sumDl) = graft.sources.FamilyCommit.visibleAcross(spark,
        spark.table(s"${name}_lexstats"), fams)
      .agg(coalesce(sum(col("n_docs")), lit(0L)),
        coalesce(sum(col("sum_dl")), lit(0L)))
      .collect().head.toSeq.map(_.toString.toLong).toArray
    val qt = qterms.select(col("query_id"), col("term")).distinct()
      .localCheckpoint(false)
    val terms = qt.select("term").distinct().as[String].collect().toSeq
    // literal IN on the bucket column -> bucket-pruned posting scan.
    // Deliberately NOT checkpointed (unlike the inline path, whose
    // posting derivation was a corpus explode): the two consumers (df
    // reduction, scoring join) each re-scan a pruned columnar read,
    // and keeping the relation un-materialized preserves the bucketed
    // output partitioning so the per-term df aggregation plans with NO
    // exchange
    val posting = graft.sources.FamilyCommit.visibleAcross(spark,
        spark.table(s"${name}_post"), fams)
      .filter(col("term").isin(terms: _*))
      .select("doc_id", "term", "tf", "dl")
    bm25FromPostings(posting, qt, nDocs, sumDl, topN, k1, b)
  }

  /** BPE merge LEARNING (Sennrich et al., 2016 §3.2) — the tokenizer-
    * training step between t23's word-level vocab and t03's "BPE-ish"
    * application: `rounds` merge rules learned over the corpus's
    * word-frequency table. Per round: count ALL adjacent symbol pairs
    * weighted by word frequency (overlaps included, the reference
    * counting), take the most frequent (freq desc, then (x, y) — the
    * deterministic tiebreak), and re-segment every word by merging
    * that pair greedily left-to-right (non-overlapping: a fold whose
    * accumulator's last symbol only matches the UNMERGED x). No
    * end-of-word marker — the no-marker variant keeps the oracle
    * cross-engine exact; symbols are plain strings, so a merged token
    * that collides with another concatenation is treated identically
    * by construction on both engines.
    *
    * Scale shape: the corpus is touched ONCE (the word-frequency
    * aggregation); every round after that runs over the DISTINCT-WORD
    * table (pair explode → one map-side-combined aggregation → a
    * 1-row argmax → a map-only fold re-segmentation), checkpointed
    * per round to keep the plan flat. Rounds are inherently
    * sequential — each merge depends on the last — so the driver
    * loop IS the algorithm, not a scale compromise. Returns
    * (round, x, y, merged, freq). */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    bpeMergeLoop(
      docs.select(explode(TextOps.tokens(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .withColumn("syms", split(col("word"), "")),
      rounds)

  /** The shared greedy-merge learning loop over an initial
    * segmentation table (word, cnt, syms) — the engine of both the
    * char-level ([[bpeMerges]]) and byte-level ([[byteBpeMerges]])
    * families; only the seed segmentation differs, so learn ≡ learn
    * across families by construction. */
  private def bpeMergeLoop(seg0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = seg0.sparkSession
    import spark.implicits._
    var seg = seg0.localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      val top = seg
        .select(col("cnt"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), " +
            "(s, i) -> struct(s AS x, element_at(syms, i + 2) AS y))")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("x"), col("y"))
        .limit(1).as[(String, String, Long)].collect()
      if (top.isEmpty) dry = true
      else {
        val (x, y, freq) = top.head
        merges += ((r.toLong, x, y, x + y, freq))
        seg = seg.withColumn("syms", foldRule(col("syms"), x, y))
          .localCheckpoint(false)
      }
      r += 1
    }
    merges.toSeq.toDF("round", "x", "y", "merged", "freq")
  }

  /** One greedy left-to-right non-overlapping merge pass: the fold
    * whose accumulator's last symbol only matches the UNMERGED x —
    * ONE definition shared by learning and every apply path. */
  private def foldRule(syms: Column, x: String, y: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(x) && s === lit(y),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
        .otherwise(concat(acc, array(s))))

  /** The GPT-2-family pre-tokenization regex, portable across Java
    * and RE2: letter/digit runs, then punctuation runs; spaces
    * separate. The alternation's branches match DISJOINT first
    * characters, so leftmost-first vs leftmost-longest engines cannot
    * diverge. ONE definition — the DuckDB oracles splice this
    * constant. */
  val BytePreTokenPattern = "[a-zA-Z0-9]+|[^a-zA-Z0-9 ]+"

  /** UTF-8 bytes of a word as lowercase hex-pair symbols ("61", "c3",
    * …) — the byte-level BPE's seed alphabet. Hex pairs (not raw
    * bytes) keep the symbol strings pure ASCII, so merge
    * concatenation, the (freq, x, y) argmax tiebreak, and the oracle's
    * string collation are byte-order-exact on both engines. */
  private def byteSyms(word: Column): Column = {
    val h = lower(hex(encode(word, "UTF-8")))
    transform(sequence(lit(0), (length(h) / 2).cast("int") - 1),
      i => h.substr(i * 2 + 1, lit(2)))
  }

  /** BYTE-level BPE merge learning (t41) — the GPT-2/tiktoken family:
    * regex pre-tokenization ([[BytePreTokenPattern]]), then the same
    * greedy merge loop as [[bpeMerges]] over UTF-8 BYTE symbols
    * (hex-pair strings). Byte-level apply is trivially TOTAL — any
    * input is representable as single-byte symbols, the systematic
    * fix for out-of-alphabet content across tokenizer families (no
    * unk piece needed at all). Returns (round, x, y, merged, freq)
    * with hex-pair symbol strings. */
  def byteBpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    bpeMergeLoop(
      docs.select(explode(regexp_extract_all(col(textCol),
          lit(BytePreTokenPattern), lit(0))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .withColumn("syms", byteSyms(col("word"))),
      rounds)

  /** Apply a LEARNED merge list ([[bpeMerges]] output, in learning
    * order) to the corpus — the tokenize-with-the-trained-tokenizer
    * step: per document, word count, character count, and the token
    * count under the merged segmentation (the compression a data-mix
    * owner reads to budget context windows). The merges fold over the
    * DISTINCT-WORD table (each rule one map-side `aggregate` pass,
    * same greedy fold as learning — apply and learn cannot drift),
    * then one join fans word token-counts back to documents: the
    * corpus text is scanned twice total (word table, doc join), never
    * per rule. */
  def bpeApply(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    val seg = foldMerges(
      docs.select(explode(TextOps.tokens(col(textCol))).as("word"))
        .distinct()
        .withColumn("syms", split(col("word"), "")),
      merges)
    val wordTok = seg.select(col("word"),
      size(col("syms")).cast("long").as("n_word_tok"))
    docs.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("word"))
      .join(wordTok, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_word_tok")).as("n_bpe_tokens"))
  }

  /** Fold a learned merge list over a (word, syms) table — the rules
    * COMPOSE into one projection (rule r's [[foldRule]] expression
    * nests over rule r-1's), identical per-row semantics to the
    * learning fold (apply and learn cannot drift), evaluated in ONE
    * map pass. r18: previously each rule was localCheckpoint'd — one
    * materialization job per rule, 2·rounds sequential driver jobs per
    * apply query for work that is a single narrow projection; at any
    * scale the fused form does strictly less (one pass over the
    * bounded distinct-word table, no block-store round-trips). */
  private def foldMerges(seg0: DataFrame,
                         merges: Seq[(String, String)]): DataFrame =
    seg0.withColumn("syms",
      merges.foldLeft(col("syms")) { case (c, (x, y)) => foldRule(c, x, y) })

  /** Apply LEARNED byte-level merges ([[byteBpeMerges]]) to the corpus
    * (t42): per doc, pre-token count, UTF-8 byte count, and the token
    * count under the merged byte segmentation. Same two-scan shape as
    * [[bpeApply]] — fold over the DISTINCT pre-token table, one join
    * back to documents. Total over ANY input by construction: unseen
    * content just stays single-byte symbols. */
  def byteBpeApply(docs: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val pre = docs.select(col(idCol).as("doc_id"),
      explode(regexp_extract_all(col(textCol),
        lit(BytePreTokenPattern), lit(0))).as("word"))
    val seg = foldMerges(
      pre.select("word").distinct().withColumn("syms", byteSyms(col("word"))),
      merges)
    val wordTok = seg.select(col("word"),
      size(col("syms")).cast("long").as("n_word_tok"),
      length(encode(col("word"), "UTF-8")).cast("long").as("n_word_bytes"))
    pre.join(wordTok, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pretok"),
        sum(col("n_word_bytes")).as("n_bytes"),
        sum(col("n_word_tok")).as("n_byte_tokens"))
  }

  /** Static word-length bound for the unigram-LM tokenizer: the
    * oracle's unrolled DP has one CTE stage per prefix length, so the
    * bound must be known at SQL-generation time; the learner REQUIRES
    * the corpus to respect it (a production corpus raises the constant
    * and regenerates — the DP itself is length-generic). */
  val UnigramMaxWordLen = 12

  /** Unigram-LM tokenizer LEARNING (Kudo 2018; the SentencePiece
    * family) — the OTHER tokenizer family production pipelines train,
    * complementing the merge-based BPE chain (t30/t31/p10): a seed
    * vocabulary of candidate pieces is refit by EM and pruned, then
    * words segment by Viterbi. This is the hard-EM (Viterbi-EM)
    * variant — each round re-estimates piece counts from the CANONICAL
    * Viterbi segmentation rather than the forward-backward posterior —
    * chosen because the E-step then stays in 64-bit integer arithmetic
    * (scores are round(ln(p)·10⁶) BIGINTs) and the whole learner is
    * engine-exact: same vocab, same counts, same scores, bit-for-bit,
    * under an unrolled-CTE DuckDB oracle (t37).
    *
    *   - SEED: every substring of length ≤ `maxPieceLen` of the
    *     distinct-word table, weighted by word frequency; all
    *     single-char pieces (the alphabet — never pruned, so every
    *     word stays segmentable) plus the top (vocabSize − alphabet)
    *     multi-char pieces by (count desc, piece asc).
    *   - EM round: Viterbi-segment the distinct-word table under the
    *     current scores ([[graft.plans.UnigramViterbi]] — one map-side
    *     native-expression pass, no joins), recount pieces from the
    *     canonical segmentations weighted by word frequency, PRUNE
    *     multi-char pieces with zero count, floor alphabet counts at 1
    *     (Laplace — an unused character keeps a finite score), rescore
    *     against the new total.
    *
    * Scale shape (the BPE discipline): the corpus text is scanned
    * ONCE (the word-frequency aggregation); seeding and every EM round
    * run over the distinct-word table only, and the vocab (bounded by
    * `vocabSize`) is the only thing collected. Returns the final
    * (piece, cnt, score) vocabulary. */
  def unigramVocab(docs: DataFrame, textCol: String, vocabSize: Int,
                   rounds: Int, maxPieceLen: Int = 4): DataFrame =
    unigramVocabFrames(docs, textCol, vocabSize, rounds, maxPieceLen)._2

  /** [[unigramVocab]] exposing its internal distinct-word frame
    * (word, cnt, wl — localCheckpointed) alongside the vocab (r19
    * frame-reuse, the logisticFrames discipline): train-then-apply
    * consumers over the SAME corpus (t38, p11, t39's unigram leg)
    * previously re-tokenized and re-distincted the whole corpus inside
    * [[unigramApply]] just to rebuild the word table the trainer
    * already materialized. One corpus tokenize pass feeds both. */
  def unigramVocabFrames(docs: DataFrame, textCol: String, vocabSize: Int,
                         rounds: Int, maxPieceLen: Int = 4): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("wl", length(col("word")))
      .localCheckpoint(false)
    val maxWl = words.agg(coalesce(max(col("wl")), lit(0))).head().getInt(0)
    require(maxWl <= UnigramMaxWordLen,
      s"corpus carries a $maxWl-char word but the oracle DP is unrolled " +
        s"to $UnigramMaxWordLen stages — raise UnigramMaxWordLen")
    val subs = (1 to maxPieceLen).map { l =>
      words.filter(col("wl") >= l)
        .select(col("word"), col("cnt"),
          explode(sequence(lit(1), col("wl") - l + 1)).as("i"))
        .select(col("word").substr(col("i"), lit(l)).as("piece"), col("cnt"))
    }.reduce(_ unionByName _)
      .groupBy("piece").agg(sum(col("cnt")).cast("long").as("cnt"))
      .localCheckpoint(false)
    val singles = subs.filter(length(col("piece")) === 1)
    // alphabet size: bounded driver scalar (distinct characters)
    val nSingles = singles.count()
    // global top-K over candidate pieces: a sort-limit over the
    // substring-count table (distinct substrings of distinct words —
    // far smaller than the corpus; the one global window in the
    // learner, deterministic (cnt desc, piece asc))
    val topW = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("piece").asc)
    val multis = subs.filter(length(col("piece")) > 1)
      .withColumn("rn", row_number().over(topW))
      .filter(col("rn") <= lit(vocabSize - nSingles)).drop("rn")
    // integer-scaled log-prob: round(ln(cnt/total)·10⁶) — the DP then
    // runs in pure 64-bit adds; ln-on-equal-doubles is the t16/t32
    // cross-engine discipline
    def rescore(v: DataFrame): DataFrame = {
      val tot = v.agg(sum(col("cnt"))).head().getLong(0)
      v.withColumn("score",
        round(log(col("cnt").cast("double") / lit(tot.toDouble)) * lit(1e6))
          .cast("long"))
    }
    var vocab = rescore(singles.unionByName(multis)).localCheckpoint(false)
    for (_ <- 1 to rounds) {
      // the vocab is vocabSize-bounded by construction: collecting it
      // into the expression is the centroids/codebooks contract
      val vmap = vocab.select(col("piece"), col("score"))
        .as[(String, Long)].collect().toMap
      val used = words.select(
          explode(graft.plans.TextHash.unigramSegment(
            col("word"), vmap, maxPieceLen)).as("piece"),
          col("cnt"))
        .groupBy("piece").agg(sum(col("cnt")).cast("long").as("used"))
      val kept = vocab.select("piece").join(used, Seq("piece"), "left")
        .withColumn("cnt",
          when(length(col("piece")) === 1,
            greatest(coalesce(col("used"), lit(0L)), lit(1L)))
            .otherwise(col("used")))
        .filter(col("cnt") > 0) // unused multi-char pieces prune (null cnt)
        .select("piece", "cnt")
      vocab = rescore(kept).localCheckpoint(false)
    }
    (words, vocab.select("piece", "cnt", "score"))
  }

  /** Tokenize WITH the trained unigram LM (the t31 shape): per doc,
    * word/char counts, the token count under the canonical Viterbi
    * segmentation, and `n_unk` — the count of out-of-alphabet code
    * points, i.e. pieces the TOTAL segmentation covered with the
    * SentencePiece-style unk transition ([[graft.plans.UnigramViterbi]]
    * floor score). Applying a trained tokenizer to NEW ingest never
    * throws on content; pipelines gate on the unk rate instead. The
    * segmentation runs once per DISTINCT word (one native-expression
    * pass), then one join fans word token-counts back to documents —
    * corpus text is scanned twice total (word table, doc join), never
    * per piece. */
  def unigramApply(docs: DataFrame, idCol: String, textCol: String,
                   vocab: Map[String, Long], maxPieceLen: Int = 4): DataFrame =
    unigramApplyFrames(docs, idCol, textCol,
      docs.select(explode(TextOps.tokens(col(textCol))).as("word")).distinct(),
      vocab, maxPieceLen)

  /** [[unigramApply]] over a CALLER-SUPPLIED distinct-word frame (r19
    * frame-reuse): `words` must carry a `word` column covering exactly
    * the distinct tokens of `docs` under [[TextOps.tokens]] — which is
    * precisely what [[unigramVocabFrames]] returns for a same-corpus
    * train-then-apply, saving the full corpus re-tokenize + distinct
    * that [[unigramApply]] pays to rebuild it. */
  def unigramApplyFrames(docs: DataFrame, idCol: String, textCol: String,
                         words: DataFrame, vocab: Map[String, Long],
                         maxPieceLen: Int = 4): DataFrame = {
    val wordTok = words
      .select(col("word"),
        size(graft.plans.TextHash.unigramSegment(col("word"), vocab, maxPieceLen))
          .cast("long").as("n_word_tok"),
        graft.plans.TextHash.unigramOovCount(col("word"), vocab)
          .as("n_word_unk"))
    docs.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("word"))
      .join(wordTok, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_word_tok")).as("n_unigram_tokens"),
        sum(col("n_word_unk")).as("n_unk"))
  }

  /** Per-source token-quota selection: within EACH source, keep the
    * highest-classifier-score documents until that source's token
    * quota is exhausted — the source-balanced corpus mix (every source
    * capped at the same budget so no single crawl dominates training),
    * vs [[tokenBudgetSelect]]'s single global budget. The running sum
    * is a window PARTITIONED by source, so each source's sort is an
    * independent shuffle partition — embarrassingly parallel across
    * sources at 100 TB. If ONE source is itself shuffle-partition-
    * sized, apply tokenBudgetSelect's range-partition + broadcast-
    * offsets decomposition inside that source; the per-source quota
    * math is unchanged. */
  def sourceQuotaSelect(docs: DataFrame, idCol: String, textCol: String,
                        srcCol: String, quota: Long): DataFrame = {
    val scored = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        TextOps.tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), col("source"),
        size(col("__t")).cast("long").as("n_tok"),
        graft.plans.TextHash.classifierScore(col("__t")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= quota)
      .select("source", "doc_id", "n_tok", "score", "cum_tok")
  }

  /** Leakage-free (decontaminated) train/val/test assignment: documents
    * that are near-duplicates of each other must land in the SAME
    * split, or test examples leak into training through their near-dup
    * twins. The split key is therefore the near-dup CLUSTER id (from
    * the d07 connected-components artifact) for clustered docs, and
    * the doc's own id for singletons; the [[hashSplit]] md5-nibble rule
    * is then applied to the key. By construction every cluster lands
    * whole in one split. 100 TB shape: one equi-join of the corpus
    * against the (far smaller) cluster-assignment table — broadcast
    * when it fits, shuffle-on-doc_id otherwise — then a map-side hash;
    * no global coordination. */
  def decontaminatedSplit(docs: DataFrame, clusters: DataFrame,
                          idCol: String): DataFrame = {
    val keyed = docs.select(col(idCol).as("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("split_key"),
        col("cluster_id").isNotNull.as("clustered"))
    // ONE definition of the split rule: hashSplit on the cluster key,
    // so a ratio change there cannot silently diverge the two paths
    hashSplit(keyed, "split_key")
  }

  /** Stable 128-bit fingerprint + 16-bit band prefix per document —
    * the blocking key for distributed exact-dup clustering. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        substring(TextOps.fingerprint(col(textCol)), 1, 16).as("fp"))
      .withColumn("band", substring(col("fp"), 1, 4))

  /** Repetition profile per document — the repetitive-text quality
    * filter of large-corpus pipelines (docs dominated by one repeated
    * n-gram are boilerplate/spam): total shingles, the count of the
    * most-repeated shingle, and their ratio. Two-level hash aggregation
    * (both map-side combined), integer arithmetic until the final
    * ratio → engine-exact and scale-safe. */
  def repetition(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), n)).as("sh"))
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_shingles"),
        max("c").cast("long").as("max_repeat"))
      .withColumn("repeat_ratio",
        col("max_repeat").cast("double") / col("n_shingles"))

  /** Gopher's duplicate-n-gram REPETITION signals (Rae et al. 2021
    * §A1.1, the n-gram half [[gopherRules]] leaves out) as exact
    * integer char-mass accounting, one row per (doc, n):
    *   - `n_grams`   — total shingle occurrences;
    *   - `dup_mass`  — Σ over shingles occurring ≥ 2× of
    *     count·len(shingle): the char mass tied up in REPEATED
    *     n-grams (Gopher's "fraction of characters in duplicated
    *     n-grams", as the integer numerator — consumers gate with a
    *     cross-multiplied threshold against the doc's char count, the
    *     t21 no-float discipline);
    *   - `top_mass`  — count·len of the single most frequent shingle
    *     (ties broken by the shingle text, descending — deterministic
    *     both engines), Gopher's "fraction of characters in the most
    *     common n-gram" numerator.
    * One documents scan feeds every n: the token array is shingled
    * per n and the tagged sets explode together; the per-shingle
    * count, the top-1 window, and the final fold all hash on
    * (doc_id, n), so the window and the aggregation reuse one
    * exchange. Linear at 100 TB: counts are map-side combined and
    * nothing is ever pairwise. */
  def dupNgramProfile(docs: DataFrame, idCol: String, textCol: String,
                      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty, "dupNgramProfile needs at least one n")
    val tagged = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), explode(array(ns.map(n =>
        struct(lit(n).as("n"), TextOps.shingles(col("__toks"), n).as("sh"))): _*)).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), explode(col("g.sh")).as("sh"))
    val counts = tagged.groupBy("doc_id", "n", "sh")
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "n").orderBy(col("c").desc, col("sh").desc)
    counts.withColumn("__rn", row_number().over(w))
      .groupBy("doc_id", "n")
      .agg(sum(col("c")).cast("long").as("n_grams"),
        coalesce(sum(when(col("c") >= 2L,
          col("c") * length(col("sh")).cast("long"))), lit(0L)).as("dup_mass"),
        max(when(col("__rn") === 1,
          col("c") * length(col("sh")).cast("long"))).as("top_mass"))
  }

  /** Token-rarity profile per document — the "is this doc made of
    * common or rare vocabulary" quality signal, in exact integers: the
    * corpus-wide DOCUMENT FREQUENCY of each of the doc's distinct
    * tokens, folded to (n_distinct, sum_df, min_df). Low mean df
    * (sum_df/n_distinct) flags jargon/noise/misspelling-heavy docs;
    * min_df = 1 flags docs carrying corpus-unique tokens (typos, ids,
    * boilerplate-busting markers). Integer df instead of float idf —
    * no log, no rounding drift, and any idf-style gate cross-multiplies
    * (the t21 discipline). Shape at 100 TB: the df table is
    * vocabulary-sized (map-side combined count over distinct
    * (doc, token) pairs), the join back is a hash join on the token
    * key, the final fold hashes on doc_id — two linear shuffles, the
    * standard tf-idf topology (t17) with a per-doc fold instead of a
    * top-k. */
  def tokenRarity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dt = docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
      .localCheckpoint(false) // feeds the df agg AND the join back
    val df = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    dt.join(df, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_distinct"),
        sum(col("df")).cast("long").as("sum_df"),
        min(col("df")).cast("long").as("min_df"))
  }

  /** Sequence packing — assign documents to fixed-capacity token packs
    * (the "pack short docs into 4k-token training sequences" step).
    * Deterministic greedy fill: within a shard, documents are laid out
    * in id order and a document belongs to the pack containing its
    * first token (`floor(prefix_tokens / capacity)`). Sharding
    * (`doc_id % shards`) bounds every window partition, so the prefix
    * sum distributes — one shuffle on the shard key, no global sort;
    * at 100 TB, shards scale with the corpus and each pack sequence is
    * built locally. Output: one row per doc with (shard, pack_id,
    * n_tokens). */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    capacity: Int, shards: Int): DataFrame =
    packByCount(docs.select(col(idCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("__n")),
      idCol, "__n", capacity, shards)

  /** [[packSequences]] against a PRECOMPUTED per-doc token count — the
    * packing a real pre-training run does, where counts come from the
    * trained tokenizer (t31's BPE apply), not whitespace. Same greedy
    * deterministic fill, same sharded-prefix-sum distribution. */
  def packByCount(counts: DataFrame, idCol: String, countCol: String,
                  capacity: Int, shards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
    counts.select(col(idCol).as("doc_id"),
        pmod(col(idCol), lit(shards.toLong)).as("shard"),
        col(countCol).cast("long").as("n_tokens"))
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) /
          lit(capacity.toDouble)).cast("long"))
  }

  /** Corpus n-gram frequency profile: the k most frequent shingles per
    * language — vocabulary/boilerplate statistics over a corpus. One
    * explode + two-level hash aggregation (map-side combined) + the
    * top-k window; ties broken by the n-gram itself so ranks are
    * deterministic. */
  def ngramTopK(docs: DataFrame, textCol: String, langCol: String,
                k: Int, n: Int = 3): DataFrame = {
    val counts = docs.select(col(langCol).as("lang"),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), n)).as("ngram"))
      .groupBy("lang", "ngram").agg(count(lit(1)).as("n"))
    Relational.topKPerGroup(counts, Seq(col("lang")),
      Seq(col("n").desc, col("ngram")), k)
  }

  /** Sliding-window document chunking — the sequence-prep step that
    * turns variable-length documents into bounded training windows
    * BEFORE packing. A chunk starts at every `stride`-th token below
    * the document length and spans up to `chunkTokens` tokens, so
    * consecutive chunks overlap by `chunkTokens − stride`. One explode
    * per document (no shuffle, no driver round-trip); chunk ids are
    * positional, so re-runs over re-partitioned data emit identical
    * rows. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkTokens >= stride,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    // null text would otherwise surface as a nonsense chunk row with
    // n_tok = -1 (Spark's size(null) legacy -1 riding through greatest)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("t"))
      .select(col(idCol), col("t"),
        explode(sequence(lit(0), greatest(size(col("t")) - 1, lit(0)),
          lit(stride))).as("s"))
      .select(col(idCol),
        (col("s") / stride).cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("t"), col("s") + 1, lit(chunkTokens))).as("chunk"),
        least(lit(chunkTokens), size(col("t")) - col("s")).cast("long").as("n_tok"))
  }

  /** PII-style redaction: count and mask pattern matches (phone
    * numbers, long digit runs, emails, ...) in one projection — the
    * scrubbing pass of a training-data pipeline. `patterns` is
    * (name, regex, tag): counts are taken against the ORIGINAL text,
    * masks are applied in sequence. Patterns must stay in the
    * regex-dialect intersection (character classes and explicit
    * quantifiers; no lookaround, no backrefs, no \\b) so Java and
    * RE2-family engines agree match-for-match — the t11 oracle
    * hash-checks that agreement. Codegen'd regexp functions, one scan,
    * no shuffle. */
  def redact(docs: DataFrame, idCol: String, textCol: String,
             patterns: Seq[(String, String, String)]): DataFrame = {
    val masked = patterns.foldLeft(col(textCol)) {
      case (c, (_, pat, tag)) => regexp_replace(c, pat, tag)
    }
    docs.select(
      col(idCol).as("doc_id") +:
        patterns.map { case (name, pat, _) =>
          regexp_count(col(textCol), lit(pat)).cast("long").as(s"n_$name")
        } :+ masked.as("redacted"): _*)
  }

  /** Deterministic per-stratum downsampling — the corpus re-mixing step
    * of a training-data pipeline (e.g. keep 25% of English, all of a
    * low-resource language). [[hashSplit]]'s engine-portable md5 trick
    * generalized to rates: a row survives iff its first two id-hash
    * nibbles sort below the stratum's threshold (granularity 1/256).
    * Content-independent and RNG-free, so the sample is reproducible
    * across runs, engines, and partitionings, and the same row is kept
    * in every re-run — the property that makes incremental re-builds of
    * a 100 TB mix cheap. Strata missing from `rates` use `defaultRate`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    def thr(rate: Double): String =
      if (rate >= 1.0) "zz" // sorts above every hex pair: keep all
      // clamp to 255: round(rate*256)=256 would format as 3-char "100",
      // which sorts BELOW "11".."ff" and would keep ~6% instead of ~100%
      else f"${math.min(255L, math.max(0L, math.round(rate * 256)))}%02x"
    val thrCol = rates.toSeq.sortBy(_._1).foldLeft(lit(thr(defaultRate))) {
      case (els, (k, r)) => when(col(stratumCol) === k, lit(thr(r))).otherwise(els)
    }
    df.filter(substring(md5(col(idCol).cast("string")), 1, 2) < thrCol)
  }

  /** Weighted corpus mixing with per-stratum epoch factors — the
    * upsampling twin of [[stratifiedSample]] (which only discards). A
    * stratum with weight w contributes ⌊w⌋ full copies of every row
    * plus one more iff the row's first two id-hash nibbles sort below
    * the fractional threshold (granularity 1/256) — so "books ×2.25,
    * web ×0.5" yields deterministic, content-independent, RNG-free
    * replication that every engine and every re-run reproduces exactly.
    * Output adds a positional `copy` index (0-based) so downstream
    * shuffles keep replicas distinguishable. One projection + one
    * explode; no shuffle. */
  /** Temperature-smoothed mixture weights (the multilingual/multi-
    * source sampling rule of mT5/XLM-R-style pipelines): each source's
    * sampling weight ∝ n_tokens^alpha, so alpha=1 reproduces natural
    * proportions and alpha→0 flattens toward uniform — the knob that
    * keeps low-resource sources from drowning while high-resource ones
    * still dominate. Output per source: n_docs, n_tokens, w (the
    * rounded smoothed mass), share (normalized), expected_tokens under
    * `budget`. [[weightedMix]] then materializes a mix FROM such
    * shares; this op derives them from corpus statistics.
    *
    * Scale shape: one corpus scan into a per-source aggregate (tiny),
    * then a broadcast of the 1-row total — no window over an
    * unpartitioned frame, no second scan. Float discipline: w is
    * round(pow, 6) BEFORE the DECIMAL(30,10) normalization sum (the
    * t24 parts rule), so cross-engine 1-ulp pow drift cannot reach the
    * dumped values. */
  def temperatureMix(docs: DataFrame, textCol: String, srcCol: String,
                     alpha: Double = 0.5, budget: Long = 1000000L): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    val perSource = docs.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col(textCol))).cast("long")).as("n_tokens"))
      .withColumn("w", round(pow(col("n_tokens").cast("double"), lit(alpha)), 6))
    val total = perSource.agg(Exact.dsum(col("w")).as("__tot"))
    perSource.crossJoin(broadcast(total))
      .withColumn("share", round(col("w") / col("__tot"), 6))
      .withColumn("expected_tokens",
        round(col("share") * lit(budget.toDouble), 0).cast("long"))
      .drop("__tot")
  }

  def weightedMix(df: DataFrame, idCol: String, stratumCol: String,
                  weights: Map[String, Double],
                  defaultWeight: Double): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0.0),
      "mix weights must be >= 0")
    require(!df.columns.contains("copy") && !df.columns.contains("__n"),
      "weightedMix adds a 'copy' column (via a '__n' temp) — rename the " +
        "input's column first; silently overwriting it would lose data")
    val wt = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (els, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(els)
    }
    val thr = format_string("%02x",
      least(lit(255), round((wt - floor(wt)) * 256).cast("int")))
    df.withColumn("__n", floor(wt).cast("long") +
        when(substring(md5(col(idCol).cast("string")), 1, 2) < thr, 1L)
          .otherwise(0L))
      .filter(col("__n") >= 1)
      .withColumn("copy", explode(sequence(lit(0L), col("__n") - 1, lit(1L))))
      .drop("__n")
  }

  /** CCNet-style n-gram language-model quality scoring: train bigram
    * counts on the corpus itself, then score every doc by its mean
    * add-one-smoothed bigram log-probability — low scores flag
    * gibberish/boilerplate relative to the corpus distribution.
    * P(w2|w1) = (c(w1w2) + 1) / (c(w1) + V); per-bigram log-probs are
    * rounded 6dp before the exact-decimal mean so both engines make
    * identical decisions. Docs shorter than 2 tokens score their
    * whole-text pseudo-bigram (the shingle padding rule).
    *
    * Scale shape: two corpus-wide count aggregations (map-side
    * combined), two equi-joins of the doc-bigram table against them
    * (the count tables are Zipf-shaped — far smaller than the corpus),
    * the 1-row vocabulary size rides a broadcast cross join (never a
    * driver action), and one final per-doc aggregation. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("t"))
    val bg = toks.select(col("doc_id"),
      explode(TextOps.shingles(col("t"), 2)).as("bigram"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val cb = bg.groupBy("bigram").agg(count(lit(1)).as("cb"))
    bg.join(cb, "bigram")
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((col("cb") + lit(1.0)) / (col("cu") + col("v"))), 6).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        // the SUM of rounded terms is exactly representable (decimal
        // path), so it's the cross-engine-stable dump; the mean is
        // derived and UNROUNDED — re-rounding sum/n can land exactly on
        // a 6dp half where engines' double division disagrees (hit at
        // sf0.1)
        Exact.dsum(col("lp")).as("sum_logprob"))
      .withColumn("avg_logprob", col("sum_logprob") / col("n_bigrams"))
  }

  /** HELD-OUT bigram-LM evaluation — [[bigramLmScore]]'s eval twin:
    * counts train on one split, scores come from ANOTHER, so unseen
    * events actually occur and the smoothing does real work (training
    * and scoring on the same corpus — t16's shape — can never produce
    * an OOV). Per eval doc: bigram count, how many bigrams were never
    * seen in training, how many had an unseen FIRST word (the backoff
    * case: the add-one estimate degrades to 1/V), and the exact
    * decimal sum of 6dp-rounded log-probs (the t16 dump-the-sum
    * discipline — the mean is derived downstream). The standard use:
    * score a candidate crawl against a trusted corpus's LM and gate on
    * the OOV rate + mean log-prob, CCNet's quality signal applied
    * across corpora rather than within one.
    *
    * Scale shape: identical to [[bigramLmScore]] (two Zipf-shaped
    * count tables, two equi-joins, broadcast vocab scalar) with LEFT
    * joins so OOV events survive to be counted. */
  def bigramLmHeldOut(train: DataFrame, eval: DataFrame,
                      idCol: String, textCol: String): DataFrame = {
    val trToks = train.select(TextOps.tokens(col(textCol)).as("t"))
    val uni = trToks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val cb = trToks.select(explode(TextOps.shingles(col("t"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cb"))
    eval.select(col(idCol).as("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), 2)).as("bigram"))
      .join(cb, Seq("bigram"), "left")
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cu"), lit(0L)) + col("v"))), 6).as("lp"),
        col("cb").isNull.cast("long").as("oovb"),
        col("cu").isNull.cast("long").as("oovw"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oovb")).as("n_oov_bigrams"),
        sum(col("oovw")).as("n_oov_firstwords"),
        Exact.dsum(col("lp")).as("sum_logprob"))
  }

  /** HELD-OUT trigram Stupid-Backoff scoring (Brants et al. 2007 §4,
    * the web-scale LM CCNet-class filters actually deploy; the add-one
    * bigram of [[bigramLmHeldOut]] is the toy tier): train raw
    * 1/2/3-gram counts on one split, score the other's trigrams by
    *
    *   S(w3|w1w2) = c(w1w2w3)/c(w1w2)            trigram seen
    *              | α · c(w2w3)/c(w2)            bigram backoff
    *              | α² · c(w3)/N                 unigram backoff
    *              | α² · 1/N                     OOV floor (count 1)
    *
    * with α = 0.4 — pure count ratios, no normalization, which is what
    * makes it both web-scale cheap and oracle-exact. Per eval doc:
    * trigram count, how many resolved at each leg (the backoff-usage
    * profile a gate reads next to the score), and the exact decimal
    * sum of 6dp-rounded log-scores (the t16 dump-the-sum discipline;
    * the mean is derived downstream, unrounded). Docs shorter than 3
    * tokens carry zero trigram mass and report zeros (their quality
    * signal is t36's bigram eval) — no pseudo-gram padding, so the
    * "trigram seen ⇒ its context bigram was counted" and "backoff
    * bigram seen ⇒ its context unigram was counted" invariants hold
    * and no leg can divide by a missing count.
    *
    * Scale shape: three Zipf-shaped train count tables (map-side
    * combined), the eval trigram stream LEFT-equi-joins each ON THE
    * GRAM KEY (t36's discipline — backoff legs actually fire), the
    * 1-row token total rides a broadcast cross join, one per-doc
    * aggregation, and a final left join back to the eval doc list for
    * totality. Nothing pairwise, nothing driver-side. */
  def trigramBackoffHeldOut(train: DataFrame, eval: DataFrame,
                            idCol: String, textCol: String,
                            alpha: Double = 0.4): DataFrame = {
    val a1 = lit(alpha)
    val a2 = lit(alpha * alpha)
    val trToks = train.select(TextOps.tokens(col(textCol)).as("t"))
    val c1 = trToks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val nTok = c1.agg(sum(col("c1")).as("n"))
    val c2 = trToks.where(size(col("t")) >= 2)
      .select(explode(TextOps.shingles(col("t"), 2)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c2"))
    val c3 = trToks.where(size(col("t")) >= 3)
      .select(explode(TextOps.shingles(col("t"), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c3"))
    val ev = eval.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("t"))
    val eg = ev.where(size(col("t")) >= 3)
      .select(col("doc_id"), explode(TextOps.shingles(col("t"), 3)).as("g"))
      .withColumn("p", split(col("g"), " "))
      .withColumn("w12", concat_ws(" ", slice(col("p"), 1, 2)))
      .withColumn("w23", concat_ws(" ", slice(col("p"), 2, 2)))
      .withColumn("w2", col("p").getItem(1))
      .withColumn("w3", col("p").getItem(2))
    val legged = eg
      .join(c3, Seq("g"), "left")
      .join(c2.withColumnRenamed("b", "w12").withColumnRenamed("c2", "c12"),
        Seq("w12"), "left")
      .join(c2.withColumnRenamed("b", "w23").withColumnRenamed("c2", "c23"),
        Seq("w23"), "left")
      .join(c1.withColumnRenamed("w", "w2").withColumnRenamed("c1", "cw2"),
        Seq("w2"), "left")
      .join(c1.withColumnRenamed("w", "w3").withColumnRenamed("c1", "cw3"),
        Seq("w3"), "left")
      .crossJoin(broadcast(nTok))
      .select(col("doc_id"),
        when(col("c3").isNotNull, lit(0))
          .when(col("c23").isNotNull, lit(1))
          .when(col("cw3").isNotNull, lit(2))
          .otherwise(lit(3)).as("leg"),
        when(col("c3").isNotNull,
          round(log(col("c3").cast("double") / col("c12")), 6))
          .when(col("c23").isNotNull,
            round(log((a1 * col("c23")) / col("cw2")), 6))
          .when(col("cw3").isNotNull,
            round(log((a2 * col("cw3")) / col("n")), 6))
          .otherwise(round(log(a2 / col("n")), 6)).as("lp"))
    val perDoc = legged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum((col("leg") === 0).cast("long")).as("n_tri_hits"),
        sum((col("leg") === 1).cast("long")).as("n_bi_backoffs"),
        sum((col("leg") === 2).cast("long")).as("n_uni_backoffs"),
        sum((col("leg") === 3).cast("long")).as("n_oov"),
        Exact.dsum(col("lp")).as("sum_logscore"))
    ev.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_tri_hits"), lit(0L)).as("n_tri_hits"),
        coalesce(col("n_bi_backoffs"), lit(0L)).as("n_bi_backoffs"),
        coalesce(col("n_uni_backoffs"), lit(0L)).as("n_uni_backoffs"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("sum_logscore"), lit(0.0)).as("sum_logscore"))
  }

  /** Per-source n-gram DIVERSITY profile — the repetitiveness /
    * mode-collapse diagnostic of a corpus audit (distinct-n-gram
    * ratios are the standard diversity report a data-mix owner reads
    * next to d17's duplication rates; a crawl whose trigram
    * distinct-count flatlines against its token count is boilerplate
    * or templated spam): per source, doc and token counts plus
    * DISTINCT and TOTAL n-gram counts for n = 1, 2, 3. Counts only —
    * all BIGINT, hash-exact by construction; the ratios are derived
    * downstream (the t16 dump-the-sum discipline). Scale shape: one
    * unioned explode per n (each a pruned (source, text) scan) into a
    * single per-(source, n) aggregation; distincts shuffle 64-bit long
    * gram keys, never raw n-gram text (the d11/d12 key discipline). */
  def ngramDiversity(docs: DataFrame, srcCol: String,
                     textCol: String): DataFrame = {
    val grams = (1 to 3).map { n =>
      docs.select(col(srcCol).as("source"), lit(n).as("n"),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), n)).as("g"))
    }.reduce(_ unionByName _)
    val perN = grams
      // 64-bit LONG gram keys (r19, the d11/d12/d19 switch): the key
      // only feeds COUNT(DISTINCT ...), so equality is all that is
      // used — longs halve the distinct-shuffle bytes vs 16-hex md5
      .select(col("source"), col("n"), xxhash64(col("g")).as("gk"))
      .groupBy("source", "n")
      .agg(count(lit(1)).as("total"), countDistinct(col("gk")).as("dist"))
      .groupBy("source")
      .pivot("n", Seq(1, 2, 3))
      .agg(first(col("total")).as("total"), first(col("dist")).as("dist"))
    docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .join(perN, "source")
      .select(col("source"), col("n_docs"),
        col("1_total").as("n_tokens"), col("1_dist").as("distinct_unigrams"),
        col("2_total").as("total_bigrams"), col("2_dist").as("distinct_bigrams"),
        col("3_total").as("total_trigrams"), col("3_dist").as("distinct_trigrams"))
  }

  /** CCNet-style perplexity tiers (Wenzek et al. 2020 §4.3): within
    * each language, documents sort by LM quality (the [[bigramLmScore]]
    * average log-prob, best first — CCNet's "head" is the LEAST
    * perplexed third) and split into head/middle/tail at equal
    * CHARACTER-mass boundaries — CCNet cuts by size, not doc count, so
    * a few long documents can't flood a tier. Boundary math stays in
    * integers (3·cum ≤ total, 3·cum ≤ 2·total — never a double
    * division), and the ranking key sum_logprob/n_bigrams is a single
    * correctly-rounded division of cross-engine-identical inputs, so
    * the tier assignment is engine-exact. Plan: the LM scoring passes
    * + ONE per-language window shuffle carrying both the running and
    * total character sums. */
  def ccnetTiers(docs: DataFrame, idCol: String, textCol: String,
                 langCol: String): DataFrame = {
    val scored = bigramLmScore(docs, idCol, textCol)
      .select(col("doc_id"), col("avg_logprob"))
    val base = docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
      length(col(textCol)).cast("long").as("n_chars"))
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val w = byLang.orderBy(col("avg_logprob").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base.join(scored, "doc_id")
      .withColumn("cum", sum(col("n_chars")).over(w))
      .withColumn("tot", sum(col("n_chars")).over(byLang))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        when(col("cum") * 3 <= col("tot"), "head")
          .when(col("cum") * 3 <= col("tot") * 2, "middle")
          .otherwise("tail").as("tier"))
  }

  /** Tf-idf top-`k` terms per doc (deterministic tiebreak on the term):
    * tf = in-doc occurrences, idf = ln((N+1)/(df+1)) with N the corpus
    * size and df the containing-doc count — the classic keyword
    * extraction / near-topic signal. One token explode, one (doc, term)
    * aggregation that feeds BOTH tf and (via a distinct-doc reduction)
    * df, a join back on the term, and the per-doc top-k window
    * (WindowGroupLimit prunes to k before the shuffle). */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df derives from the (doc, term) pairs already aggregated — no
    // second pass over the raw tokens
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1L))), 6)
          .as("tfidf"))
    Relational.topKPerGroup(scored, Seq(col("doc_id")),
        Seq(col("tfidf").desc, col("term")), k)
      .select("doc_id", "term", "tfidf", "rn")
  }

  /** Deterministic weighted sampling WITHOUT replacement per stratum
    * (Efraimidis–Spirakis A-ES): rank rows by key = −ln(u)/w, keep the
    * k smallest — equivalent to ranking by u^(1/w) but with one
    * transcendental instead of pow. u derives from the first 13 md5
    * hex chars of the id (52 bits — exactly representable in a double,
    * so the uniform is bit-identical on every engine with md5, like
    * [[hashSplit]]); keys round 6dp so a last-ulp ln() difference
    * can't flip a rank. No RNG state, reproducible across runs,
    * engines, and partitionings; one window per stratum, pruned to k
    * per partition by WindowGroupLimit before the shuffle. */
  def weightedSample(df: DataFrame, idCol: String, stratumCol: String,
                     weight: Column, k: Int): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double") + 1.0) / 4503599627370496.0 // 2^52
    val key = round(-log(u) / weight, 6)
    Relational.topKPerGroup(df.withColumn("samp_key", key),
      Seq(col(stratumCol)), Seq(col("samp_key"), col(idCol)), k)
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how much more likely its hashed-n-gram bag is
    * under the TARGET distribution than under the RAW pool, then draw
    * a fixed-size sample by Gumbel top-k over the log-importance —
    * the standard data-selection operator between quality gates
    * (t02/t21) and mixing (t14/t28) in an LLM data pipeline.
    *
    *  - features: unigrams + bigrams ([[ngramFeatures]], the t20
    *    feature family), hashed into `buckets` bins by the md5 52-bit
    *    rule — both "LMs" are bag-of-hashed-ngram models, estimated
    *    from THIS corpus: target = rows where `targetCol`, raw = all.
    *  - per-bucket log-ratio, add-one smoothed:
    *    lr(b) = ln(((ct+1)·(Nr+B)) / ((cr+1)·(Nt+B))), rounded 6dp so
    *    the per-doc DECIMAL sum is engine-exact.
    *  - per-doc log-importance = Σ lr(bucket(f)) over the doc's
    *    features WITH multiplicity (the product of per-token
    *    probabilities, in log space).
    *  - selection: Gumbel top-k — key = log_importance − ln(−ln(u))
    *    with u the portable md5 uniform of the id (the t18 rule), the
    *    exact sampling scheme the DSIR paper uses, deterministic
    *    across engines, runs, and partitionings.
    *
    * Scale shape: ONE feature-explode + per-feature md5 pass, reduced
    * immediately to the per-doc bucket HISTOGRAM (doc, bucket, n) —
    * bounded at ≤`buckets` rows per doc, orders of magnitude under
    * the raw feature stream — which is checkpointed once and feeds
    * BOTH count passes; the bucket table is `buckets` rows (broadcast
    * back onto the histogram — never a shuffle of the corpus against
    * it); the only corpus-keyed aggregation is the per-doc sum; top-k
    * is WindowGroupLimit-pruned before its single-partition step. */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
                   targetCol: Column, buckets: Int = 1024,
                   k: Int = 100): DataFrame = {
    require(buckets >= 1 && k >= 1, s"need buckets/k >= 1, got $buckets/$k")
    val toks = docs.select(col(idCol).as("doc_id"), targetCol.as("is_target"),
      TextOps.tokens(col(textCol)).as("t"))
    val hist = toks.select(col("doc_id"), col("is_target"),
        explode(ngramFeatures(col("t"))).as("f"))
      .withColumn("b",
        pmod(conv(substring(md5(col("f")), 1, 13), 16, 10).cast("long"),
          lit(buckets.toLong)))
      .groupBy("doc_id", "is_target", "b")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val bc = hist.groupBy("b").agg(sum(col("n")).as("cr"),
      sum(when(col("is_target"), col("n")).otherwise(0L)).as("ct"))
    val totals = bc.agg(sum("cr").as("nr"), sum("ct").as("nt")) // 1 row
    val lr = bc.crossJoin(broadcast(totals))
      .select(col("b"), round(log(
        ((col("ct") + lit(1.0)) * (col("nr") + lit(buckets))) /
          ((col("cr") + lit(1.0)) * (col("nt") + lit(buckets)))), 6).as("lr"))
    // lr·n stays an exact 6dp multiple (lr is 6dp-rounded, n integer,
    // the double product exact well under 2^53), so the DECIMAL sum
    // over histogram rows equals the per-feature sum bit-for-bit
    val docw = hist.join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_feats"),
        Exact.dsum(col("lr") * col("n")).as("log_importance"))
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double") + 1.0) / 4503599627370496.0 // 2^52
    val keyed = docw.withColumn("sel_key",
      round(col("log_importance") - log(-log(u)), 6))
    Relational.topKPerGroup(keyed, Seq(lit(1)),
        Seq(col("sel_key").desc, col("doc_id")), k)
      .select("doc_id", "n_feats", "log_importance", "sel_key", "rn")
  }

  /** Line unit for [[dropBoilerplateLines]] on real corpora: literal
    * text lines. */
  def newlineLines(text: Column): Column = split(text, "\n")

  /** Line unit for newline-free corpora: position-aligned `n`-token
    * chunks (the t13 chunk rule as an in-row array). */
  def tokenChunkLines(text: Column, n: Int): Column = {
    require(n >= 1, s"chunk size must be >= 1, got $n")
    val t = TextOps.tokens(text)
    // greatest(..., 1): sequence(0, -1) would generate a DESCENDING
    // range, not an empty one, if a tokenizer ever emitted zero tokens
    val m = greatest(ceil(size(t).cast("double") / n).cast("int"), lit(1))
    transform(sequence(lit(0), m - 1),
      i => array_join(slice(t, i * n + 1, lit(n)), " "))
  }

  /** CCNet/RefinedWeb-style line-level boilerplate removal: split every
    * doc into lines (`lineCol` — an array<string> expression over the
    * doc row, e.g. [[newlineLines]] or [[tokenChunkLines]]), count the
    * DISTINCT docs each line value occurs in, drop lines recurring in
    * more than `maxDocs` docs (navigation chrome, cookie banners,
    * licence footers), and reassemble each doc from its surviving lines
    * in order. Output: doc_id, n_kept, n_dropped, clean_text (empty
    * string when every line was boilerplate; docs whose `lineCol` is
    * empty vanish — there is nothing to reassemble).
    *
    * Scale shape: one explode (narrow), one hash aggregation on the
    * line value for doc-frequencies, one equi-join of the lines frame
    * against the (tiny: df > maxDocs) boilerplate key set on the same
    * key — at corpus scale that key set is broadcastable, and the
    * aggregation is map-side combined — then one per-doc reassembly
    * aggregation. No window, no driver action. */
  def dropBoilerplateLines(docs: DataFrame, idCol: String, lineCol: Column,
                           maxDocs: Int, joinSep: String = "\n"): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(lineCol).as(Seq("pos", "line")))
    // only the boilerplate keys survive the aggregation — the join's
    // build side is the df > maxDocs tail, not the whole line table
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") > maxDocs)
      .select(col("line"), lit(true).as("__bp"))
    lines.join(boiler, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        sum(when(col("__bp").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__bp").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips nulls, so dropped lines vanish before the
        // sort; pos ordering makes the reassembly deterministic
        array_join(transform(
          array_sort(collect_list(when(col("__bp").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), joinSep).as("clean_text"))
  }

  /** Compression-ratio quality signal (Gopher/RefinedWeb family):
    * deflate(utf8(text)) size over raw size. Repetitive/boilerplate
    * text lands well under natural prose (~0.4-0.7); machine-generated
    * repetition approaches 0. One CPU-bound pass, no shuffle; zlib has
    * no SQL spelling so this is ScalaTest-verified (no DuckDB oracle).
    * `keep` applies the standard band gate: too-compressible is
    * boilerplate, incompressible is noise/binary-ish. */
  def compressionRatio(docs: DataFrame, idCol: String, textCol: String,
                       minRatio: Double = 0.25,
                       maxRatio: Double = 1.1): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        octet_length(col(textCol)).cast("long").as("n_raw"),
        graft.plans.CompressExprs.deflateSize(col(textCol)).as("n_deflate"))
      .withColumn("ratio",
        when(col("n_raw") === 0L, lit(1.0))
          .otherwise(round(col("n_deflate").cast("double") / col("n_raw"), 6)))
      .withColumn("keep", col("ratio") >= minRatio && col("ratio") <= maxRatio)

  /** Deterministic global shuffle + shard assignment for training-data
    * export: shard = md5(id) bucket, seq = the row's ordinal within its
    * shard under md5-hex order (id tiebreak — md5 collisions on
    * distinct ids are not a planning assumption). The composition IS a
    * uniform random permutation of the corpus keyed only on content-
    * independent ids — reproducible across runs, engines, and
    * partitionings, with no RNG state (the [[hashSplit]] principle
    * applied to the export shuffle).
    *
    * 100 TB shape: one hash-partition shuffle on the shard key, then a
    * per-shard sort for the ordinal — each window partition is exactly
    * one shard, so `shards` is the scale knob: pick it so corpus/shards
    * fits a task's spill budget (e.g. 10k shards ≈ 10 GB sorted spans
    * at 100 TB). Writing `.repartition(shards, $"shard")
    * .sortWithinPartitions("shard","seq")` then gives one
    * sequentially-ordered output file per shard with no further
    * movement — see [[exportShards]]. */
  /** The deterministic shard id alone (the t19 hash rule, no ordinal):
    * first 13 md5 hex chars = 52 bits → exact in a long, never
    * negative. For consumers that only bucket — e.g. the p02 manifest —
    * this is a pure per-row expression: no window, no shuffle. */
  def shardOf(idCol: Column, shards: Int): Column = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    pmod(conv(substring(md5(idCol.cast("string")), 1, 13), 16, 10)
      .cast("long"), lit(shards.toLong))
  }

  def shardAssign(df: DataFrame, idCol: String, shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", md5(col(idCol).cast("string")))
      .withColumn("shard", shardOf(col(idCol), shards))
      .withColumn("seq", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Materialize [[shardAssign]] as one parquet file per shard, rows in
    * seq order within each file (the reproducible-training-order export
    * layout). Directory-partitioned by shard; the repartition targets
    * the same key as the window above it, so AQE coalescing aside the
    * ordinal computation and the write share one shuffle. */
  def exportShards(df: DataFrame, idCol: String, shards: Int,
                   path: String): Unit =
    shardAssign(df, idCol, shards)
      .repartition(shards, col("shard"))
      .sortWithinPartitions("shard", "seq")
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Hashed bag-of-n-grams linear classifier scoring — the fastText-
    * style quality-filter inference pass of a corpus pipeline (e.g. an
    * educational-value or toxicity gate): features are unigrams +
    * bigrams of the token stream, hashed into `nBuckets` weight
    * buckets, and the document's score is the sum of its features'
    * bucket weights.
    *
    * The weight vector is DETERMINISTIC — w(b) = md5(b)-derived integer
    * in [-1000, 1000] — standing in for trained parameters so the whole
    * inference pass is engine-portable and oracle-checkable (the
    * [[hashSplit]] principle; a real deployment swaps in its trained
    * array, nothing else changes). Integer weights make the score an
    * exact BIGINT sum: no float-association drift in any aggregation
    * order.
    *
    * 100 TB shape: pure per-row map — feature generation, hashing, and
    * the weight lookup all run inside ONE native expression over the
    * token array ([[graft.plans.HashedClassifierScore]]: no explode →
    * no shuffle, no per-feature row blowup, no interpreted lambda
    * frames); the weight array rides the expression (the broadcast-
    * weights inference shape). Throughput scales with executors
    * linearly; nothing is collected or joined. The interpreted
    * `hashedScoreOf(ngramFeatures(...))` spelling below is kept as the
    * bit-identical cross-check (TextMultimodalSpec). */
  /** Unigram+bigram feature array of a token array — the classifier's
    * feature extractor as a composable column. The bigram branch is
    * guarded: sequence(1, 0) would generate DESCENDING [1, 0], not
    * empty, so single-token docs must short-circuit explicitly.
    *
    * Pass a MATERIALIZED token column (its own projection), never an
    * inline split(...): `toks` is referenced three times here and
    * interpreted HOFs get no CSE, so an unmaterialized split is
    * re-evaluated per reference (measured 3.7× on t20 when this
    * regressed). */
  def ngramFeatures(toks: Column): Column =
    concat(toks,
      when(size(toks) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(toks) - 1), i =>
          concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)))))

  /** The md5-derived integer weight vector: w(b) ∈ [-1000, 1000] from
    * the 52-bit md5 int of the bucket id — same digest→long rule as
    * shardOf/portablePlanes. A trained deployment swaps this literal
    * for its real parameters; nothing else changes. */
  private[graft] def classifierWeights(nBuckets: Int): Seq[Long] =
    graft.plans.HashedClassifierScore.weights(nBuckets).toSeq

  /** Exact BIGINT classifier score of a feature array: each feature
    * hashes to a bucket, the bucket's weight is looked up in the
    * plan-literal vector, the sum folds in one `aggregate` lambda —
    * composable into single-scan pipelines (p03). */
  def hashedScoreOf(feats: Column, nBuckets: Int = 4096): Column = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    aggregate(feats, lit(0L), (acc, f) =>
      acc + element_at(typedLit(classifierWeights(nBuckets)),
        (pmod(conv(substring(md5(f), 1, 13), 16, 10).cast("long"),
          lit(nBuckets.toLong)) + 1L).cast("int")))
  }

  /** Gopher-style repetition-free quality rules (Rae et al. 2021 §A1.1,
    * the subset computable from the token stream): token-count bounds,
    * mean-token-length band, symbol-to-character ratio cap, and a
    * stopword floor. Every rule is exact integer/length arithmetic over
    * ONE materialized token array (no per-rule re-tokenize), reported
    * as individual booleans plus the conjunction gate — pipelines log
    * per-rule rejection rates, not just the final verdict. All ratios
    * compare via cross-multiplication in integers, so the gate can
    * never flip on float rounding. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "is", "to", "in", "that", "it")
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        TextOps.tokens(lower(col(textCol))).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tok"),
        // letters-only length: token chars minus spaces
        (length(col("__t")) - (size(col("__toks")) - 1)).cast("long")
          .as("n_tok_chars"),
        // native one-pass symbol count — identical to the oracle's
        // length(s) - length(regexp_replace(s, "[^A-Za-z0-9 ]", ""))
        // spelling without the regex walk (see plans.SymbolCount)
        graft.plans.SetExprs.symbolCount(col("__t")).as("n_symbols"),
        length(col("__t")).cast("long").as("n_chars"),
        TextOps.markerCount(col("__toks"), stop).cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_tok"), col("n_symbols"), col("n_stop"),
        col("n_tok").between(50L, 100000L).as("ok_count"),
        // 3 <= mean token length <= 10, compared as integers
        (col("n_tok_chars") >= col("n_tok") * 3L &&
          col("n_tok_chars") <= col("n_tok") * 10L).as("ok_mean_len"),
        // symbols < 10% of characters
        (col("n_symbols") * 10L < col("n_chars")).as("ok_symbols"),
        // >= 2 stopword hits per 100 tokens (and at least one)
        (col("n_stop") * 100L >= col("n_tok") * 2L && col("n_stop") >= 1L)
          .as("ok_stopwords"))
      .withColumn("keep",
        col("ok_count") && col("ok_mean_len") &&
          col("ok_symbols") && col("ok_stopwords"))
  }

  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        nBuckets: Int = 4096): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        // |unigrams| + |bigrams| without materializing the feature
        // array: n + max(0, n-1)
        when(size(col("__t")) < 2, size(col("__t")))
          .otherwise(size(col("__t")) * 2 - 1).cast("long").as("n_feats"),
        graft.plans.TextHash.classifierScore(col("__t"), nBuckets).as("score"))
      .withColumn("keep", col("score") > 0L)

  /** Gopher-style intra-document REPETITION profile (Rae et al. 2021
    * §A1.1 Table A1 — the rules [[gopherRules]] left out because they
    * need n-gram machinery, not token arithmetic): per doc,
    *
    *   - the single most frequent `topN`-gram (count desc, gram asc —
    *     deterministic tie), its occurrence count, and its CHARACTER
    *     mass (count × gram token chars) — Gopher counts top-n-gram
    *     occurrences multiplicatively;
    *   - the token/char COVERAGE of duplicated `dupN`-grams (grams
    *     occurring ≥ 2× within the doc): covered positions merge to
    *     maximal spans (the d11 gaps-and-islands rule) and each
    *     covered character counts ONCE — Gopher's "fraction of
    *     characters inside duplicate n-grams" semantics;
    *   - the conjunction gate at Gopher's thresholds via integer
    *     cross-multiplication (top-2-gram fraction ≤ 0.20 ⟺
    *     5·top_chars ≤ n_chars; dup-5-gram fraction ≤ 0.15 ⟺
    *     20·dup_chars ≤ 3·n_chars) — no float ever gates.
    *
    * Docs shorter than the gram widths report zeros and pass.
    *
    * Scale shape: ONE materialized token table feeds all three legs;
    * both n-gram streams aggregate per (doc, gram) — map-side
    * combinable, keys never leave the doc's partition semantics — and
    * the coverage walk reuses the d23 boundary-walk discipline
    * (O(n + s) per doc, no token-vs-span explode join). */
  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String,
                        topN: Int = 2, dupN: Int = 5): DataFrame = {
    require(topN >= 1 && dupN >= 1, s"gram widths must be >= 1: $topN/$dupN")
    val base = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("t"))
      .localCheckpoint(false)
    val stats = base.select(col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      length(array_join(col("t"), "")).cast("long").as("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("n").desc, col("g"))
    val top = base.where(size(col("t")) >= topN)
      .select(col("doc_id"), explode(TextOps.shingles(col("t"), topN)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("g").as("top_gram"),
        col("n").as("top_count"),
        (col("n") * (length(col("g")) - lit(topN - 1))).as("top_chars"))
    val pos = base.where(size(col("t")) >= dupN)
      .select(col("doc_id"),
        posexplode(TextOps.shingles(col("t"), dupN)).as(Seq("pos", "g")))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "g")
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val spans = pos.withColumn("c", count(lit(1)).over(wc))
      .where(col("c") >= 2).select("doc_id", "pos")
      .withColumn("brk",
        when(lag("pos", 1).over(wd).isNull
          || col("pos") - lag("pos", 1).over(wd) > dupN, 1).otherwise(0))
      .withColumn("span_id", sum("brk").over(wd))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("p0"), (max("pos") + lit(dupN - 1)).as("p1"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("p0"), col("p1"))))
        .as("spans"))
    def charsOf(arr: Column): Column = length(array_join(arr, ""))
    val cov = base.join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("t"))
          .otherwise(Dedup.keptBySpans(col("t"), col("spans"))))
      .select(col("doc_id"),
        (size(col("t")) - size(col("kept"))).cast("long").as("dup_tokens"),
        (charsOf(col("t")) - charsOf(col("kept"))).cast("long")
          .as("dup_chars"))
    stats.join(top, Seq("doc_id"), "left").join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_chars"),
        coalesce(col("top_gram"), lit("")).as("top_gram"),
        coalesce(col("top_count"), lit(0L)).as("top_count"),
        coalesce(col("top_chars"), lit(0L)).cast("long").as("top_chars"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("rep_ok",
        col("top_chars") * 5L <= col("n_chars") &&
          col("dup_chars") * 20L <= col("n_chars") * 3L)
  }

  /** Trained weights of the in-engine logistic quality classifier
    * (t45/t46/p15). `weights` holds every bucket observed in training
    * (≤ nBuckets entries — bounded by the same contract that lets
    * vocab/codebook loads collect), missing buckets are 0. */
  final case class LogisticModel(weights: Map[Long, Double], nBuckets: Int,
                                 nDocs: Long, rounds: Int, lr: Double)

  /** (doc_id, y, n_feats) + exploded (doc_id, bucket) feature stream
    * for the hashed-n-gram logistic family — t20's exact feature map
    * (unigrams + bigrams, md5-13-hex bucket hash) so the learned and
    * fixed-weight classifiers score the same feature space. Both
    * frames are localCheckpointed: training reads each one per round. */
  private[graft] def logisticFrames(docs: DataFrame, idCol: String, textCol: String,
                             label: Column, nBuckets: Int,
                             materialize: Boolean): (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("t"),
      label.cast("long").as("y"))
    // +1: the reserved BIAS bucket (id = nBuckets, outside the hash
    // range) every doc carries once — without an intercept the feature
    // weights are forced to encode the class base rate and a 40/60
    // corpus never crosses the sign gate
    val meta0 = base.select(col("doc_id"), col("y"),
      (when(size(col("t")) < 2, size(col("t")))
        .otherwise(size(col("t")) * 2 - 1) + 1).cast("long").as("n_feats"))
    val feats0 = base.select(col("doc_id"),
      explode(concat(col("t"),
        when(size(col("t")) < 2, array().cast("array<string>"))
          .otherwise(TextOps.shingles(col("t"), 2)))).as("f"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("f")), 1, 13), 16, 10).cast("long"),
          lit(nBuckets.toLong)).as("bucket"))
      .unionAll(base.select(col("doc_id"),
        lit(nBuckets.toLong).as("bucket")))
    // training reads each frame TWICE per round — checkpoint, and
    // checkpoint PRE-PARTITIONED on doc_id: LogicalRDD preserves the
    // partitioning, so every round's per-doc aggregation and err-join
    // probe run exchange-free (the K-round loop would otherwise
    // re-shuffle the corpus-sized feature stream 2K times). One-pass
    // consumers (scoring, the n_occ report) skip both.
    if (materialize) (
      meta0.repartition(col("doc_id")).localCheckpoint(false),
      feats0.repartition(col("doc_id")).localCheckpoint(false))
    else (meta0, feats0)
  }

  /** Per-bucket weight lookup: the ≤ nBuckets+1-row weight table rides
    * a BROADCAST HASH JOIN (O(1) probe per feature row). A literal-map
    * `element_at` would be zero-join but Catalyst's GetMapValue does a
    * LINEAR scan of the map per row — O(nBuckets) per feature, a scale
    * killer the moment the bucket space grows. Missing buckets read 0. */
  private def withWeights(feats: DataFrame,
                          wDf: Option[DataFrame]): DataFrame = wDf match {
    case None => feats.withColumn("wf", lit(0.0))
    case Some(w) => feats.join(broadcast(w), Seq("bucket"), "left")
      .withColumn("wf", coalesce(col("w"), lit(0.0))).drop("w")
  }

  private def weightsDf(docs: DataFrame,
                        model: LogisticModel): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    model.weights.toSeq.toDF("bucket", "w")
  }

  /** In-engine logistic-regression TRAINING over the hashed n-gram
    * features (the learner [[hashedLinearScore]] lacks — its weights
    * are supplied; these are learned): `rounds` fixed full-batch
    * gradient-descent passes, each one per-doc aggregation + one
    * per-bucket aggregation over the checkpointed feature stream.
    * Per round r:
    *
    *   m(doc)  = (Σ_f w(bucket(f)))/n_feats         exact-decimal sum
    *   p(doc)  = round(1/(1+exp(−m)), 6)            the logistic link
    *   err     = (p − y) · cw(y)                    class-balanced
    *   g(b)    = Σ_{(doc,f): f∈b} round(err/n_feats, 6)   decimal sum
    *   w'(b)   = round(w(b) − lr·g(b)/nDocs, 6)
    *
    * cw(y) = nDocs/(2·n_class) is the standard inverse-class-frequency
    * balance — without it a skewed corpus (this one gates ~90/10) takes
    * 10× the rounds to move past the base rate. Full-batch mean
    * gradients are ~1/(n_feats·nDocs)-scale, so the usable lr is large
    * (default 1024); every doc also carries the reserved bias bucket so
    * the intercept, not the features, absorbs the base rate.
    *
    * — the t30 unrolled-round oracle discipline: every round boundary
    * is 6dp-rounded, every sum decimal, so both engines make identical
    * decisions. The per-round driver round-trip collects ≤ nBuckets
    * weight rows (the MLlib treeAggregate→driver→broadcast shape);
    * everything corpus-sized stays distributed — per round one shuffle
    * to doc_id, one to bucket, weights broadcast as a literal map.
    *
    * Scale: K passes over a checkpointed (doc_id, bucket) stream —
    * O(K · corpus tokens); nothing pairwise, no growing lineage (the
    * weight map resets the plan each round). */
  def logisticTrain(train: DataFrame, idCol: String, textCol: String,
                    label: Column, nBuckets: Int = 512, rounds: Int = 4,
                    lr: Double = 1024.0): LogisticModel =
    logisticTrainTrajectory(train, idCol, textCol, label, nBuckets,
      rounds, lr).last

  /** [[logisticTrain]] exposing the WHOLE training trajectory: the
    * model after every GD round (element r-1 = weights after round r,
    * its `rounds` field = r). Same cost as training to `rounds` — the
    * per-round snapshot is the ≤ nBuckets+1-row weight seq the loop
    * already holds on the driver; nothing re-trains. Feeds the t49
    * learning-curve diagnostic (did training converge, and when). */
  def logisticTrainTrajectory(train: DataFrame, idCol: String,
                              textCol: String, label: Column,
                              nBuckets: Int = 512, rounds: Int = 4,
                              lr: Double = 1024.0): Seq[LogisticModel] = {
    val (meta, feats) = logisticFrames(train, idCol, textCol, label,
      nBuckets, materialize = true)
    logisticTrainLoop(meta, feats, nBuckets, rounds, lr)
  }

  /** The GD loop over PRE-BUILT (meta, feats) frames — split out
    * (r18 optimization) so callers that also need the feature stream
    * AFTER training (t45's n_occ report) reuse the checkpointed frames
    * instead of re-tokenizing the corpus. Semantics identical to the
    * pre-split trajectory — same rounds, same rounding boundaries. */
  private[graft] def logisticTrainLoop(meta: DataFrame, feats: DataFrame,
                                       nBuckets: Int, rounds: Int,
                                       lr: Double): Seq[LogisticModel] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val counts = meta.agg(count(lit(1)), sum(col("y"))).collect().head
    val nDocs = counts.getLong(0)
    val nPos = counts.getLong(1)
    val nNeg = nDocs - nPos
    // fail loudly, not divergently: a silent single-class degrade here
    // would have no counterpart in the unrolled SQL oracle (which
    // always computes nd/(2·n_class)) — the two engines would train
    // different trajectories instead of erroring
    require(nPos > 0 && nNeg > 0,
      s"logistic training needs both classes: nPos=$nPos nNeg=$nNeg")
    val cwPos = nDocs.toDouble / (2.0 * nPos)
    val cwNeg = nDocs.toDouble / (2.0 * nNeg)
    // weights round-trip through the driver each round (≤ nBuckets+1
    // rows — the MLlib treeAggregate→driver→broadcast shape): the next
    // round's weight table is a LOCAL relation, so its broadcast build
    // is driver-only and no checkpoint job lands on the round's
    // critical path. The UPDATE arithmetic stays in-frame so the
    // rounding is Spark's `round`, exactly as the oracle spells it.
    val sp = meta.sparkSession
    import sp.implicits._
    var w: Option[Seq[(Long, Double)]] = None
    def wDf: Option[DataFrame] = w.map(_.toDF("bucket", "w"))
    val trajectory = Seq.newBuilder[LogisticModel]
    for (r <- 1 to rounds) {
      // r18 (OPTIMIZATION_r18.md Finding 1; outputs proved
      // bit-identical): (a) the per-round sums ride the LONG-SCALED
      // exact form — every addend is a 6dp decimal by construction
      // (weights and c are round(·, 6)) and the scaled per-group sums
      // sit far inside the 2^53 exactness envelope, so dsumL ≡ the
      // DECIMAL(30,10) sum the oracle spells, at a 64-bit add instead
      // of a BigDecimal-backed one; (b) the gradient join hints
      // SHUFFLE_HASH — both sides are already co-partitioned on
      // doc_id (zero exchange either way), but the default sort-merge
      // re-SORTED the corpus-sized feature stream every round; the
      // hash build side is err (one row per doc per partition), the
      // textbook §3.1 shuffled-hash case. Together: ~1.4 s → ~0.5 s
      // per round at sf0.1/32 cores.
      val sw = withWeights(feats, wDf).select(col("doc_id"), col("wf"))
        .groupBy("doc_id").agg(Exact.dsumL(col("wf"), 6).as("sw"))
      val err = meta.join(sw, Seq("doc_id"))
        .select(col("doc_id").as("__did"),
          ((round(lit(1.0) / (lit(1.0) +
            exp(-(col("sw") / col("n_feats")))), 6)
            - col("y").cast("double"))
            * when(col("y") === 1L, lit(cwPos)).otherwise(lit(cwNeg)))
            .as("err"),
          col("n_feats").as("__nf"))
      val g = feats.join(err.hint("shuffle_hash"),
          col("doc_id") === col("__did"))
        .select(col("bucket"), round(col("err") / col("__nf"), 6).as("c"))
        .groupBy("bucket").agg(Exact.dsumL(col("c"), 6).as("g"))
      val withPrev = wDf match {
        case None => g.withColumn("w", lit(0.0))
        case Some(prev) => g.join(broadcast(prev), Seq("bucket"), "left")
          .withColumn("w", coalesce(col("w"), lit(0.0)))
      }
      w = Some(withPrev.select(col("bucket"),
        round(col("w") - (lit(lr) * col("g")) / lit(nDocs), 6).as("w"))
        .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))))
      trajectory += LogisticModel(w.get.toMap, nBuckets, nDocs, r, lr)
    }
    trajectory.result()
  }

  /** The t45 report over a trained model: per observed bucket its
    * training-corpus occurrence count and learned weight. The n_occ
    * aggregation reads the SAME checkpointed feature stream training
    * just consumed (r18: previously it re-tokenized the corpus into a
    * second, unmaterialized stream — one full extra pass). */
  def logisticTrainReport(train: DataFrame, idCol: String, textCol: String,
                          label: Column, nBuckets: Int = 512,
                          rounds: Int = 4, lr: Double = 1024.0): DataFrame = {
    val (meta, feats) = logisticFrames(train, idCol, textCol, label,
      nBuckets, materialize = true)
    val model = logisticTrainLoop(meta, feats, nBuckets, rounds, lr).last
    feats.groupBy("bucket").agg(count(lit(1)).as("n_occ"))
      .join(broadcast(weightsDf(train, model)), Seq("bucket"))
      .select(col("bucket"), col("n_occ"), col("w"))
  }

  /** Per-doc decimal weight sum under a trained model — the p15 gate
    * feed: the score stays exact DECIMAL through downstream rollups
    * (sum-of-sums stays exact; callers cast to double only at the
    * output edge). */
  def logisticScoreDecimal(docs: DataFrame, idCol: String, textCol: String,
                           model: LogisticModel): DataFrame = {
    val (_, feats) = logisticFrames(docs, idCol, textCol, lit(false),
      model.nBuckets, materialize = false)
    logisticScoreDecimalFrames(feats, model)
  }

  /** [[logisticScoreDecimal]] over a PRE-BUILT feature stream — the
    * r18 shape for callers that already hold (meta, feats) frames
    * (t48 scores the same eval stream its meta comes from, one
    * tokenize pass instead of three). */
  private[graft] def logisticScoreDecimalFrames(feats: DataFrame,
                                                model: LogisticModel): DataFrame =
    withWeights(feats, Some(weightsDf(feats, model)))
      .groupBy("doc_id")
      .agg(sum(col("wf").cast(Exact.D)).as("swd"))

  /** Score `docs` under a trained model (t46): per doc the exact
    * decimal weight sum (`pred` gates on its sign — sum > 0 ⟺ mean
    * score > 0, no float mean needed) plus the label comparison for
    * held-out accuracy reads. Scoring is one broadcast weight join +
    * one aggregation over the feature stream. */
  def logisticApply(docs: DataFrame, idCol: String, textCol: String,
                    label: Column, model: LogisticModel): DataFrame = {
    val (meta, feats) = logisticFrames(docs, idCol, textCol, label,
      model.nBuckets, materialize = false)
    logisticApplyFrames(meta, feats, model)
  }

  /** [[logisticApply]] over PRE-BUILT (meta, feats) frames — the r18
    * shape for multi-model scoring loops (t49 scores 5 trajectory
    * snapshots against ONE materialized eval stream instead of
    * re-tokenizing the split per round). */
  private[graft] def logisticApplyFrames(meta: DataFrame, feats: DataFrame,
                                         model: LogisticModel): DataFrame = {
    // long-scaled exact sum — same 6dp-addend envelope argument as the
    // training loop; proved ≡ the decimal sum (oracle-checked at both SFs)
    val sw = withWeights(feats, Some(weightsDf(feats, model)))
      .groupBy("doc_id").agg(Exact.dsumL(col("wf"), 6).as("sum_w"))
    meta.join(sw, Seq("doc_id"))
      .select(col("doc_id"), col("n_feats"), col("sum_w"), col("y"),
        (col("sum_w") > lit(0.0)).as("pred"))
      .withColumn("correct", col("pred") === (col("y") === 1L))
  }

  /** Classifier CALIBRATION sweep (t48) — the pick-a-threshold
    * evidence a gate owner reads before a p15-style corpus build, the
    * d18 one-pass-sweep discipline applied to the trained score:
    * per cutoff c (a mean-score threshold, exact decimal), the integer
    * confusion counts of the gate `swd > c · n_feats` against the
    * label, all cutoffs answered from ONE scored pass — the corpus
    * scores once, a ≤ |cutoffs|-row broadcast grid fans each scored
    * row out, and one aggregation lands every operating point. No
    * per-cutoff rescan exists in the plan (spec-locked: exactly one
    * broadcast nested-loop over the tiny grid).
    *
    * `scored` must carry `swd` (the exact-DECIMAL weight sum —
    * [[logisticScoreDecimal]]), `n_feats`, and `y` ∈ {0, 1}. The gate
    * cross-multiplies (swd > c·n_feats ⟺ mean score > c) so no float
    * division ever gates; counts are integers — precision/recall
    * curves derive exactly downstream. */
  def calibrationSweep(scored: DataFrame,
                       cutoffs: Seq[String]): DataFrame = {
    require(cutoffs.nonEmpty, "calibration needs at least one cutoff")
    val sp = scored.sparkSession
    import sp.implicits._
    // string → decimal(8,6): exact 6dp literals, never a double detour
    val cuts = cutoffs.toDF("cutoff")
      .select(col("cutoff").cast(org.apache.spark.sql.types
        .DecimalType(8, 6)).as("cutoff"))
    val pred = col("swd") > col("cutoff") * col("n_feats")
    scored.crossJoin(broadcast(cuts))
      .groupBy("cutoff")
      .agg(
        count(when(pred && col("y") === 1L, 1)).as("tp"),
        count(when(pred && col("y") === 0L, 1)).as("fp"),
        count(when(!pred && col("y") === 0L, 1)).as("tn"),
        count(when(!pred && col("y") === 1L, 1)).as("fn"))
      .select(col("cutoff").cast("double").as("cutoff"),
        col("tp"), col("fp"), col("tn"), col("fn"))
  }

  // ---- persisted logistic model family (the production half of the
  // t45/t46/p15 trainers: train once, score many) --------------------

  /** Persist a trained [[LogisticModel]] as a maintained catalog
    * family: `{name}_weights` (bucket, w — ≤ nBuckets+1 rows, one
    * file) and `{name}_meta` (the training hyper-parameters, one row).
    * Same build-once discipline the ANN indexes get from
    * `Similarity.ensureIvfIndex`: the oracle-checked t45/t46/p15 twins
    * rightly retrain per invocation (the gate replays the trajectory),
    * but production scoring loads the landed weight table instead of
    * paying 4 corpus passes per run. */
  def saveLogisticModel(spark: org.apache.spark.sql.SparkSession,
                        name: String, model: LogisticModel): Unit = {
    import spark.implicits._
    // coalesce(1): a ≤4097-row weight table is ONE file by design —
    // a scorer reads it whole, never prunes it
    model.weights.toSeq.toDF("bucket", "w").coalesce(1)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${name}_weights")
    Seq((model.nBuckets, model.nDocs, model.rounds, model.lr))
      .toDF("n_buckets", "n_docs", "rounds", "lr")
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${name}_meta")
  }

  /** Load a persisted model. The collect is the weight-table contract
    * (≤ nBuckets+1 rows — the same bound that lets training round-trip
    * the driver each GD round); 6dp weights survive parquet doubles
    * bit-exactly, so a loaded model scores ROW-IDENTICALLY to the
    * in-memory one it was saved from (spec-locked). */
  def loadLogisticModel(spark: org.apache.spark.sql.SparkSession,
                        name: String): LogisticModel = {
    val metaRows = spark.table(s"${name}_meta").collect()
    require(metaRows.length == 1,
      s"model '$name': expected exactly one meta row, got ${metaRows.length}")
    val m = metaRows.head
    val ws = spark.table(s"${name}_weights").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    LogisticModel(ws, m.getAs[Int]("n_buckets"), m.getAs[Long]("n_docs"),
      m.getAs[Int]("rounds"), m.getAs[Double]("lr"))
  }

  /** Build-once / score-many entry (the `ensureIvfIndex` pattern):
    * return the model named `name`, training it from `train` (by-name
    * — not evaluated on the hot path) and persisting it only when the
    * catalog doesn't already hold a fresh one. With a `fingerprint`
    * (the source's `Tables.fingerprint`), "fresh" additionally
    * means "trained on the data currently on disk" — an in-place
    * corpus regeneration invalidates the persisted model. A persisted
    * model whose hyper-parameters disagree with the request is
    * retrained rather than silently returned (the nCentroids-drift
    * rule: scoring under a silently-different shape is the bug the
    * check exists to catch). */
  def ensureLogisticModel(spark: org.apache.spark.sql.SparkSession,
                          name: String, train: => DataFrame,
                          idCol: String, textCol: String, label: => Column,
                          nBuckets: Int = 512, rounds: Int = 4,
                          lr: Double = 1024.0,
                          fingerprint: Option[String] = None): LogisticModel =
    synchronized {
      import graft.sources.DerivedTables
      val tables = Seq(s"${name}_weights", s"${name}_meta")
      val present = DerivedTables.presentOrExists(spark, tables, fingerprint)
      val existing =
        if (present) Some(loadLogisticModel(spark, name)) else None
      val reusable = existing.filter(m =>
        m.nBuckets == nBuckets && m.rounds == rounds && m.lr == lr)
      reusable.getOrElse {
        saveLogisticModel(spark, name,
          logisticTrain(train, idCol, textCol, label, nBuckets, rounds, lr))
        DerivedTables.stampAll(spark, tables, fingerprint)
        loadLogisticModel(spark, name)
      }
    }

  /** Per-ROW exact-decimal weight sum under a trained model — the
    * STREAMING-ADMISSION form of [[logisticScoreDecimal]] (which
    * explodes + aggregates, a shape a landing stream can't run without
    * watermark-delayed emission). Weights land ONCE in a dense
    * (nBuckets+1)-slot array literal — `element_at` on an ARRAY is an
    * O(1) ordinal access, unlike the map-literal GetMapValue linear
    * scan the plan locks forbid — and the per-doc sum accumulates in
    * exact DECIMAL, so it is order-independent and equals the batch
    * scorer's `sum(cast(wf as decimal))` bit-for-bit: the sign gate
    * admits EXACTLY the docs batch `logisticApply` would keep
    * (spec-locked). Stateless, codegen'd, O(features) per row. */
  def trainedScoreDecimal(text: Column, model: LogisticModel): Column = {
    val wArr: Seq[Double] =
      (0L to model.nBuckets.toLong).map(model.weights.getOrElse(_, 0.0))
    val wLit = typedlit(wArr)
    val toks = TextOps.tokens(text)
    val feats = concat(toks,
      when(size(toks) < 2, array().cast("array<string>"))
        .otherwise(TextOps.shingles(toks, 2)))
    def bucketOf(f: Column): Column =
      pmod(conv(substring(md5(f), 1, 13), 16, 10).cast("long"),
        lit(model.nBuckets.toLong))
    val hashed = aggregate(feats,
      lit(java.math.BigDecimal.ZERO).cast(Exact.D),
      (acc, f) => (acc + element_at(wLit,
        (bucketOf(f) + lit(1L)).cast("int")).cast(Exact.D)).cast(Exact.D))
    // + the reserved bias bucket (id = nBuckets) every doc carries once
    hashed + lit(model.weights.getOrElse(model.nBuckets.toLong, 0.0))
      .cast(Exact.D)
  }

  /** The admission gate over [[trainedScoreDecimal]]: sum > 0 ⟺ batch
    * `logisticApply`'s `pred` (exact decimal on both sides). */
  def trainedGate(text: Column, model: LogisticModel): Column =
    trainedScoreDecimal(text, model) > lit(java.math.BigDecimal.ZERO)

  /** Budget-capped quality selection — "take the best documents until
    * the token budget is spent" (the fixed-token-count curation step
    * of a training-data refresh): rank docs by (classifier score desc,
    * doc_id), keep every doc whose cumulative token count INCLUDING
    * itself is ≤ `budget`.
    *
    * The naive spelling is a running sum over `ORDER BY score DESC` —
    * a windowed prefix sum with NO partition key, which serializes the
    * whole corpus into ONE sort task (the q67 wall, but global). This
    * is the classic DISTRIBUTED PREFIX SUM instead: range-repartition
    * on the ranking key so partition i holds a contiguous rank slice,
    * cumsum WITHIN each partition (parallel), then add each
    * partition's offset — the sum of all earlier partitions' totals,
    * a tiny per-partition summary cumsum'd on one row per partition
    * and broadcast back. Bit-identical to the global window (the
    * ranking is total — doc_id breaks score ties), spec-locked, and
    * every corpus-sized step is per-partition parallel. */
  /** Sequence packing, concat-then-chunk (the GPT-style pretraining
    * layout): documents ordered by id concatenate into one token
    * stream, cut into fixed `contextLen` windows; each doc reports its
    * stream offset and the [first_chunk, last_chunk] span it occupies
    * (a doc straddling a boundary spans several training examples).
    * The stream offset is a GLOBAL prefix sum — computed with
    * [[tokenBudgetSelect]]'s distributed decomposition (range-
    * repartition on doc_id, per-partition cumsum, one tiny broadcast
    * offsets row per partition), so no single-task global sort exists
    * at any scale. Integer arithmetic end to end → engine-exact. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    contextLen: Long, partitions: Int = 32): DataFrame = {
    require(contextLen >= 1, s"contextLen must be >= 1, got $contextLen")
    val sized = docs.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tok"))
    // materialized once — offsets summary + main pass both consume it
    val ranged = sized.repartitionByRange(partitions, col("doc_id"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val offsets = ranged.groupBy("__pid")
      .agg(sum(col("n_tok")).as("__ptotal"))
      .withColumn("__offset",
        coalesce(sum(col("__ptotal")).over(
          org.apache.spark.sql.expressions.Window.orderBy("__pid")
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)), lit(0L)))
      .drop("__ptotal")
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("doc_id")
    ranged
      .withColumn("__local_cum", sum(col("n_tok")).over(wLocal))
      .join(broadcast(offsets), "__pid")
      .withColumn("start_tok",
        col("__local_cum") + col("__offset") - col("n_tok"))
      // `div` = integer division on longs (floor for the nonnegative
      // offsets here) — no double round-trip at any magnitude
      .withColumn("first_chunk", expr(s"start_tok div ${contextLen}L"))
      .withColumn("last_chunk",
        expr(s"(start_tok + n_tok - 1) div ${contextLen}L"))
      .select(col("doc_id"), col("n_tok"), col("start_tok"),
        col("first_chunk"), col("last_chunk"),
        (col("last_chunk") - col("first_chunk") + 1L).as("n_chunks"))
  }

  def tokenBudgetSelect(docs: DataFrame, idCol: String, textCol: String,
                        budget: Long, partitions: Int = 32): DataFrame = {
    val scored = docs.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("n_tok"),
        graft.plans.TextHash.classifierScore(col("__t")).as("score"))
    // materialized once: both the offsets summary and the main pass
    // consume it — unchecked, each branch would re-run the classifier
    // scan AND the range shuffle (verified in the plan: two scans)
    val ranged = scored
      .repartitionByRange(partitions, col("score").desc, col("doc_id"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val offsets = ranged.groupBy("__pid")
      .agg(sum(col("n_tok")).as("__ptotal"))
      .withColumn("__offset",
        coalesce(sum(col("__ptotal")).over(
          org.apache.spark.sql.expressions.Window.orderBy("__pid")
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)), lit(0L)))
      .drop("__ptotal")
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(col("score").desc, col("doc_id"))
    ranged
      .withColumn("__local_cum", sum(col("n_tok")).over(wLocal))
      .join(broadcast(offsets), "__pid")
      .withColumn("cum_tok", col("__local_cum") + col("__offset"))
      .filter(col("cum_tok") <= budget)
      .select("doc_id", "n_tok", "score", "cum_tok")
  }
}
