package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Document deduplication for LLM training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH near-dup, SimHash, and exact n-gram
  * Jaccard. All stages are built-in/higher-order expressions — no UDFs —
  * so every step is codegen'd and distributes.
  *
  * Scale design (the point of MinHash+LSH): candidate generation is a
  * self-equi-join on (band_index, band_key), i.e. a hash shuffle on the
  * band key — never an O(n²) cross join. At 100 TB the only quadratic
  * term is within-bucket pairs, controlled by bands×rows tuning; the
  * signature pass is a single narrow scan.
  */
object Dedup {
  /** The per-row MinHash signature expression — ONE definition for both
    * hash families so every consumer (pairwise, incremental, cluster)
    * derives identical signatures from identical text. The native
    * family lowercases; the portable family matches the oracle's raw
    * tokens. */
  private def sigExpr(textCol: String, numHashes: Int, shingleN: Int,
                      portable: Boolean): Column =
    if (portable)
      graft.plans.TextHash.minhashSigPortable(
        TextOps.tokens(col(textCol)), shingleN, numHashes)
    else
      graft.plans.TextHash.minhashSig(
        TextOps.tokens(lower(col(textCol))), shingleN, numHashes)

  /** (doc_id, sig) per document: tokenize → n-gram shingle → MinHash,
    * via the native [[graft.plans.MinHashShingleSig]] expression (one
    * tight per-row loop; the composed higher-order-function form is
    * interpreted per lambda frame and was ~10× slower). */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int, shingleN: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      sigExpr(textCol, numHashes, shingleN, portable = false).as("sig"))

  /** Banded LSH pair generation over a (doc_id, sig array<long>) frame:
    * docs sharing any band key become candidates; est_jaccard = fraction
    * of matching signature components.
    *
    * ONE shuffle total: the band self-equi-join on (band_idx, band_key =
    * the raw signature slice — array keys hash/compare natively).
    * Signatures ride the join, and a colliding pair is kept only in its
    * FIRST agreeing band (native FirstAgreeIndex over the sig arrays,
    * groupSize = rows-per-band), so each candidate surfaces exactly once
    * with sig_a/sig_b already in hand — the previous pair-distinct()
    * shuffle and both signature join-backs disappear. est_jaccard is a
    * fused native loop (AgreeCount), not an interpreted zip_with +
    * aggregate lambda pair. shuffle_hash pins the strategy: a
    * high-cardinality bucket key wants a shuffled hash join at any
    * scale, never a broadcast and never a sort. The caller materializes
    * `sigs` once (localCheckpoint): the frame feeds both join sides and
    * the signature pipeline must not recompute per side. */
  private def bandedPairs(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val banded = bandKeys(sigs, numHashes, bands)
    val rows = numHashes / bands
    val a = banded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b.hint("shuffle_hash"), Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(graft.plans.VectorExprs.firstAgreeIndex(
        col("sig_a"), col("sig_b"), rows) === col("band_idx"))
      .withColumn("est_jaccard",
        round(graft.plans.VectorExprs.agreeCount(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes, 6))
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Explode a signature frame into its LSH band keys: every input
    * column rides, plus (band_idx, band_key = the raw signature slice —
    * array keys hash/compare natively). The ONE banding definition:
    * pairwise and incremental candidate generation must never
    * desynchronize on band layout. */
  private def bandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — a remainder " +
        "would silently drop signature components from banding, and " +
        "zero-width bands would collide everything with everything")
    val rows = numHashes / bands
    sigs.select(col("*"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * rows + 1, lit(rows))))
        .as(Seq("band_idx", "band_key")))
  }

  /** Incremental (batch-vs-corpus) dedup — the daily-ingest path of a
    * training pipeline, where re-deduplicating 100 TB from scratch per
    * ingest is not an option: keep an incoming doc iff it has (a) no
    * exact normalized-content duplicate and (b) no MinHash band
    * collision against the already-ingested corpus. Both tests are
    * LEFT ANTI / LEFT SEMI equi-joins (content-hash key; (band_idx,
    * band_key) keys) — the known corpus contributes only its distinct
    * keys, never full rows, and at production scale those key sets are
    * persisted bucketed tables maintained incrementally per ingest, so
    * each batch costs one narrow scan of the batch plus key-bucket
    * joins. Rows with null id/text are dropped (a null key would match
    * nothing and bypass dedup). Within-batch dedup stays the job of
    * d02/d03's operators — compose them before calling. `portable`
    * selects the md5-seeded signature family (oracle-checkable) over
    * production xxhash64. */
  def incrementalKeep(incoming: DataFrame, known: DataFrame, idCol: String,
                      textCol: String, numHashes: Int = 32, bands: Int = 16,
                      shingleN: Int = 3, portable: Boolean = false): DataFrame =
    // ONE scan of the known corpus computes both key sets (norm hash +
    // signature in a single projection), checkpointed because it feeds
    // two join subtrees; keys only — never full known rows
    incrementalKeepWithKeys(incoming,
      knownKeys(known, textCol, numHashes, shingleN, portable)
        .localCheckpoint(false),
      idCol, textCol, numHashes, bands, shingleN, portable)

  /** The known-corpus key table `(__norm_key, sig)` that
    * [[incrementalKeepWithKeys]] consumes: at production scale this is
    * a PERSISTED artifact maintained incrementally per ingest (append
    * the surviving batch's keys), so each daily batch pays a key-table
    * scan instead of re-fingerprinting 100 TB of corpus text. */
  def knownKeys(known: DataFrame, textCol: String, numHashes: Int = 32,
                shingleN: Int = 3, portable: Boolean = false): DataFrame =
    known.select(TextOps.fingerprint(col(textCol)).as("__norm_key"),
      sigExpr(textCol, numHashes, shingleN, portable).as("sig"))

  /** [[incrementalKeep]] against a precomputed (usually persisted)
    * [[knownKeys]] table — the corpus contributes only this key table,
    * never text. The per-ingest cost still includes DISTINCTing and
    * band-exploding the key table; for the fully batch-bound form use
    * [[saveIncrementalKeys]] + [[incrementalKeepFromTables]]. */
  def incrementalKeepWithKeys(incoming: DataFrame, knownKeys: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 32, bands: Int = 16,
                              shingleN: Int = 3, portable: Boolean = false): DataFrame =
    incrementalKeepJoinReady(incoming,
      knownKeys.select("__norm_key").distinct(),
      bandKeys(knownKeys.select("sig"), numHashes, bands)
        .select("band_idx", "band_key").distinct(),
      idCol, textCol, numHashes, bands, shingleN, portable)

  /** Persist the known-corpus key sets in JOIN-READY form — the
    * production artifact a daily-ingest pipeline maintains: the
    * DISTINCT normalized-content hashes and the DISTINCT exploded LSH
    * band keys, each a managed table bucketed (and sorted) on its join
    * key. A later ingest then pays one scan of each table with NO
    * corpus-side exchange, explode, or distinct — the joins read the
    * bucketed layout directly, so per-batch work scales with the BATCH
    * (plus a columnar key scan), not the corpus. */
  def saveIncrementalKeys(spark: org.apache.spark.sql.SparkSession, name: String,
                          known: DataFrame, textCol: String,
                          numHashes: Int = 32, bands: Int = 16,
                          shingleN: Int = 3, portable: Boolean = false,
                          buckets: Int = 8): Unit =
    writeIncrementalKeys(spark, name, known, textCol, numHashes, bands,
      shingleN, portable, buckets, ingestId = "base", overwrite = true)

  /** ONE writer for build and maintenance: the key projections, band
    * layout, and bucket specs cannot drift between the initial save
    * and the per-ingest append — only the ingest stamp differs. Both
    * paths are REPLAY-SAFE: rows land in an `ingest_id` directory
    * partition via [[graft.sources.Bucketing.writeBucketedIngest]], so
    * a retried ingest overwrites its own partition instead of
    * double-appending. */
  private def writeIncrementalKeys(spark: org.apache.spark.sql.SparkSession,
                                   name: String, docs: DataFrame,
                                   textCol: String, numHashes: Int, bands: Int,
                                   shingleN: Int, portable: Boolean,
                                   buckets: Int, ingestId: String,
                                   overwrite: Boolean): Unit = {
    // one corpus scan feeds both key sets
    val keys = knownKeys(docs, textCol, numHashes, shingleN, portable)
      .localCheckpoint(false)
    graft.sources.Bucketing.writeBucketedIngest(spark,
      keys.select("__norm_key").distinct(), s"${name}_norm",
      Seq("__norm_key"), buckets, ingestId, overwrite)
    graft.sources.Bucketing.writeBucketedIngest(spark,
      bandKeys(keys.select("sig"), numHashes, bands)
        .select("band_idx", "band_key").distinct(),
      s"${name}_bands", Seq("band_idx", "band_key"), buckets, ingestId, overwrite)
  }

  /** Per-ingest maintenance for [[saveIncrementalKeys]]'s tables:
    * append the surviving batch's distinct norm hashes and band keys,
    * bucket-aligned, stamped with `ingestId` — the daily refresh that
    * keeps the exact-dedup key tables current without
    * re-fingerprinting the corpus. IDEMPOTENT under retry: the stamp
    * is a directory partition written by dynamic partition overwrite,
    * so re-running a crashed maintain job with the same `ingestId`
    * replaces that ingest's rows instead of double-appending
    * (append-twice ≡ append-once, spec-locked). Distinct ingests must
    * use distinct ids (the date / batch number a daily pipeline
    * already has). Keys are DISTINCT within an ingest but may repeat
    * rows already present from earlier ingests; the consuming joins
    * are semi/anti (set semantics), so those duplicates cost bytes,
    * never correctness — fold finalized ingests down with
    * [[graft.sources.Bucketing.compactIngests]] on whatever cadence
    * the table's file count warrants. Re-stamp any staleness
    * fingerprint after appending. */
  def appendIncrementalKeys(spark: org.apache.spark.sql.SparkSession, name: String,
                            batch: DataFrame, textCol: String, ingestId: String,
                            numHashes: Int = 32, bands: Int = 16,
                            shingleN: Int = 3, portable: Boolean = false,
                            buckets: Int = 8): Unit =
    writeIncrementalKeys(spark, name, batch, textCol, numHashes, bands,
      shingleN, portable, buckets, ingestId, overwrite = false)

  /** The batch-bound ingest path: [[incrementalKeep]] joining directly
    * against the bucketed tables written by [[saveIncrementalKeys]].
    * Band/hash parameters must match those the tables were built with
    * (the name is the contract, as with the IVF index). */
  def incrementalKeepFromTables(spark: org.apache.spark.sql.SparkSession,
                                incoming: DataFrame, name: String,
                                idCol: String, textCol: String,
                                numHashes: Int = 32, bands: Int = 16,
                                shingleN: Int = 3, portable: Boolean = false): DataFrame =
    // commit-visibility: a half-landed ingest (crash between the _norm
    // and _bands writes) is invisible until the family's marker lands
    // — no-op for legacy families without a _commits table
    incrementalKeepJoinReady(incoming,
      graft.sources.FamilyCommit.visible(spark,
        spark.table(s"${name}_norm"), name),
      graft.sources.FamilyCommit.visible(spark,
        spark.table(s"${name}_bands"), name),
      idCol, textCol, numHashes, bands, shingleN, portable)

  // ----- refcounted content fingerprints (strict-erasure variant) -----

  /** The REFCOUNTED content-fingerprint family `{name}_normrc` — the
    * strict-erasure alternative to the default `_norm` store. The
    * default deliberately SURVIVES doc forget (fingerprints carry no
    * doc attribution, and keeping them means re-posts of forgotten
    * content stay suppressed — [[graft.operators.Forget]] header);
    * a deployment whose erasure rules extend to content-derived
    * hashes needs the opposite, and this family provides it.
    *
    * Contract: each ingest lands `(__norm_key, rc)` rows — rc = how
    * many docs of THAT ingest carry the content — and a forget lands
    * a NEGATIVE ledger row in its own `forget-*` ingest partition
    * ([[graft.operators.Forget.forgetFingerprints]]). A fingerprint
    * is LIVE while its rc sum across partitions is > 0
    * ([[liveFingerprints]]); [[compactRcFingerprints]] folds the
    * ledger and physically erases dead keys. The ledger design keeps
    * both append and forget O(batch) (no full-table rewrite), makes
    * each replay-idempotent (every write owns one directory partition
    * under dynamic overwrite), and is crash-convergent — there is no
    * in-place decrement whose partial application a retry could
    * double-count. The trade: dead fingerprints persist ON DISK until
    * the next compaction (they are already invisible to reads); run
    * [[compactRcFingerprints]] right after a forget when the erasure
    * clock demands it. */
  def saveRcFingerprints(spark: org.apache.spark.sql.SparkSession, name: String,
                         docs: DataFrame, textCol: String,
                         buckets: Int = 8,
                         ingestId: String = "base"): Unit =
    // ingestId is overridable so a CLI bootstrap can land under the
    // SAME replay key its retry would append with: a crash right
    // after a "base"-keyed bootstrap would make the retry's append
    // (different key) double-count every fingerprint in the batch —
    // rc inflation, the unsafe direction for strict erasure
    writeRcFingerprints(spark, name, docs, textCol, buckets,
      ingestId = ingestId, overwrite = true)

  /** Per-ingest maintenance for [[saveRcFingerprints]]: land the
    * batch's per-fingerprint doc counts in their own ingest partition
    * (replay-idempotent, same discipline as every other family). */
  def appendRcFingerprints(spark: org.apache.spark.sql.SparkSession, name: String,
                           batch: DataFrame, textCol: String, ingestId: String,
                           buckets: Int = 8): Unit =
    writeRcFingerprints(spark, name, batch, textCol, buckets,
      ingestId, overwrite = false)

  private def writeRcFingerprints(spark: org.apache.spark.sql.SparkSession,
                                  name: String, docs: DataFrame,
                                  textCol: String, buckets: Int,
                                  ingestId: String, overwrite: Boolean): Unit =
    graft.sources.Bucketing.writeBucketedIngest(spark,
      rcCounts(docs, textCol), s"${name}_normrc",
      Seq("__norm_key"), buckets, ingestId, overwrite)

  /** `(__norm_key, rc)` per distinct fingerprint of `docs` — the
    * ledger contribution one ingest (or, negated, one forget request)
    * makes. Null texts are dropped, as in [[knownKeys]]. */
  private[graft] def rcCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(TextOps.fingerprint(col(textCol)).as("__norm_key"))
      .groupBy("__norm_key").agg(count(lit(1)).as("rc"))

  /** The LIVE fingerprint set: keys whose ledger sum is positive.
    * Commit-gated ([[graft.sources.FamilyCommit.visible]], no-op for
    * legacy families) so a half-landed ingest or forget is invisible.
    * The aggregation is bucket-aligned on `__norm_key` — exchange-free
    * on the family's layout. */
  def liveFingerprints(spark: org.apache.spark.sql.SparkSession,
                       name: String,
                       coFamilies: Seq[String] = Nil): DataFrame = {
    val own = graft.sources.FamilyCommit.visible(spark,
      spark.table(s"${name}_normrc"), name)
    // the cross-family gate applies to INGEST partitions only (those
    // share the composed families' id space — the same batch lands in
    // each family under the same id). `forget-<request>` ledger
    // partitions are FAMILY-LOCAL by design (a deletion request lands
    // only here, and [[graft.operators.Forget.forgetFingerprints]]
    // commits its marker only in this family): folding a coFamily's
    // committed set over them would hide every decrement forever —
    // forgotten content would stay "live" on the composed path and
    // strict erasure would silently break. They stay gated by this
    // family's OWN marker, nothing else.
    val gated =
      if (coFamilies.isEmpty) own
      else {
        // coalesce: under three-valued logic a NULL ingest_id would
        // make BOTH !isForget and isForget filters drop the row —
        // silently vanishing it from the composed path while the
        // single-family path keeps it. Null-partition rows are not
        // forget ledgers; they belong on the ingest (cross-gated) leg.
        val isForget = coalesce(
          col("ingest_id").cast("string").startsWith("forget-"), lit(false))
        graft.sources.FamilyCommit.visibleAcross(spark,
            own.filter(!isForget), coFamilies)
          .unionByName(own.filter(isForget))
      }
    gated.groupBy("__norm_key").agg(sum(col("rc")).as("__rc"))
      .filter(col("__rc") > 0L).select("__norm_key")
  }

  /** Exact-dedup admission against the refcounted family: batch rows
    * whose content fingerprint is LIVE are dropped; content whose
    * every holder was forgotten ([[liveFingerprints]] sum ≤ 0) is
    * admitted again — the strict-erasure re-post behavior, the
    * opposite of [[incrementalKeepFromTables]]'s `_norm` leg.
    * Within-batch dedup stays the job of d02's operator, as with
    * [[incrementalKeep]]. `coFamilies` extends the commit gate ACROSS
    * families for COMPOSED admission ([[graft.sources.FamilyCommit
    * .visibleAcross]]): a strict-erasure ingest that also runs the
    * near-dup legs passes the nd family's prefix, so an ingest
    * committed in one family but not yet the other is judged against
    * the PREVIOUS corpus in BOTH legs — never admitted by one and
    * suppressed by the other's half-landed state. */
  def exactKeepFromRcTable(spark: org.apache.spark.sql.SparkSession,
                           incoming: DataFrame, name: String,
                           idCol: String, textCol: String,
                           coFamilies: Seq[String] = Nil): DataFrame =
    incoming.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .withColumn("__norm_key", TextOps.fingerprint(col(textCol)))
      .join(liveFingerprints(spark, name, coFamilies),
        Seq("__norm_key"), "left_anti")
      .drop("__norm_key")

  /** Fold the rc ledger and PHYSICALLY ERASE dead fingerprints —
    * the "deletes at zero" half of the strict-erasure contract. Rides
    * [[graft.sources.Bucketing.compactIngests]]' transform hook, so
    * erasure costs the rewrite compaction was paying anyway. Erasure
    * is keepLast-INDEPENDENT: dead keys (global ledger total ≤ 0) are
    * dropped from every partition, kept ones included — `keepLast`
    * only governs the replay horizon, exactly as in the generic fold:
    * a retried ingest whose partition was folded RE-APPENDS its
    * positive counts (inflating rc — the unsafe direction for strict
    * erasure: content then needs more forgets than holders), so fold
    * only past the pipeline's retry horizon. Folded forget-* ledgers
    * are immune: a replayed request recomputes its decrement from the
    * landing, where the docs are already deleted — zero rows, no-op.
    * keepLast defaults to 0 for the post-forget erasure call, where
    * the operator wants the dead keys off disk NOW. Marker
    * partitions (when the family enforces commits) are folded with
    * [[graft.sources.FamilyCommit.compactMarkers]] by the caller on
    * its own cadence. */
  def compactRcFingerprints(spark: org.apache.spark.sql.SparkSession,
                            name: String, keepLast: Int = 0): Unit = {
    val table = s"${name}_normrc"
    graft.sources.Bucketing.compactIngests(spark, table, Seq("__norm_key"),
      graft.sources.Bucketing.bucketsOf(spark, table), keepLast,
      transform = df => {
        // per-(ingest, key) ledger sums — with keepLast = 0 this is
        // one row per key in `base`
        val summed = df.groupBy(col("ingest_id"), col("__norm_key"))
          .agg(sum(col("rc")).as("rc"))
        // erase by the key's GLOBAL total: a per-group filter would
        // drop a kept partition's negative ledger row while keeping
        // the key's positive base row — resurrecting a dead key
        val dead = summed.groupBy("__norm_key")
          .agg(sum(col("rc")).as("__tot"))
          .filter(col("__tot") <= 0L).select("__norm_key")
        summed.join(dead, Seq("__norm_key"), "left_anti")
          .select("__norm_key", "rc", "ingest_id")
      })
  }

  private def incrementalKeepJoinReady(incoming: DataFrame, normKeys: DataFrame,
                                       knownBands: DataFrame, idCol: String,
                                       textCol: String, numHashes: Int,
                                       bands: Int, shingleN: Int,
                                       portable: Boolean): DataFrame = {
    // null id/text rows are DROPPED here, inside the operator: a null
    // key matches nothing in either anti-join, so ungated they would
    // bypass deduplication entirely at every call site
    val gated = incoming.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    // checkpointed: feeds the signature/banding branch AND the final
    // anti-join — without it the batch scan + anti-join plan twice
    val exactOk = gated.withColumn("__norm_key", TextOps.fingerprint(col(textCol)))
      .join(normKeys, Seq("__norm_key"), "left_anti")
      .drop("__norm_key")
      .localCheckpoint(false)
    val incSigs =
      if (portable) portableSignatures(exactOk, idCol, textCol, numHashes, shingleN)
      else signatures(exactOk, idCol, textCol, numHashes, shingleN)
    val collided = bandKeys(incSigs, numHashes, bands)
      .join(knownBands, Seq("band_idx", "band_key"), "left_semi")
      .select(col("doc_id").as(idCol)).distinct()
    exactOk.join(collided, Seq(idCol), "left_anti")
  }

  /** MinHash+LSH candidate pairs over the native xxhash64 signatures —
    * the production path (fast, engine-specific hashes). */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 32, bands: Int = 16,
                            shingleN: Int = 3): DataFrame =
    bandedPairs(
      signatures(docs, idCol, textCol, numHashes, shingleN).localCheckpoint(false),
      numHashes, bands)

  /** Engine-PORTABLE MinHash signatures: md5-seeded affine hash family
    * (one md5 per shingle), via the native
    * [[graft.plans.MinHashShinglePortable]] expression. Any engine with
    * md5 reproduces them bit-for-bit, so the full MinHash+LSH pipeline
    * becomes oracle-checkable (d03). Costs one digest per shingle —
    * use the xxhash64 [[signatures]] for production throughput; this is
    * the differential-testing twin. */
  def portableSignatures(docs: DataFrame, idCol: String, textCol: String,
                         numHashes: Int, shingleN: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      sigExpr(textCol, numHashes, shingleN, portable = true).as("sig"))

  /** [[minhashCandidatePairs]] over the portable md5 signatures. */
  def minhashCandidatePairsPortable(docs: DataFrame, idCol: String,
                                    textCol: String, numHashes: Int = 32,
                                    bands: Int = 16, shingleN: Int = 3): DataFrame =
    bandedPairs(
      portableSignatures(docs, idCol, textCol, numHashes, shingleN)
        .localCheckpoint(false),
      numHashes, bands)

  /** (doc_id, simhash): 64-bit SimHash per document via the native
    * [[graft.plans.SimHash64]] expression. */
  def simhashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.plans.TextHash.simhash(
        TextOps.tokens(lower(col(textCol)))).as("simhash"))

  /** Engine-portable 60-bit SimHash (md5 token hashes) — the
    * oracle-checkable twin of [[simhashes]] (d04). */
  def simhashesPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.plans.TextHash.simhashPortable(
        TextOps.tokens(lower(col(textCol)))).as("simhash"))

  /** SimHash near-duplicate PAIRS (Manku et al. 2007, the web-crawl
    * dedup design): the 60-bit portable simhash splits into four
    * 15-bit bands; by pigeonhole, any pair within hamming distance 3
    * agrees EXACTLY on at least one band, so the band equi-join routes
    * every true pair (recall 1 for the ≤3 gate — unlike MinHash
    * banding, this blocking is lossless) and the verify is one
    * xor+popcount per candidate. Each pair is counted once, at its
    * FIRST agreeing band (the [[bandedPairs]] discipline — no DISTINCT
    * shuffle). Output: (doc_a < doc_b, hamming ≤ maxHamming).
    * `maxHamming` beyond 3 weakens the pigeonhole guarantee with 4
    * bands — enforced. 100 TB shape: one text scan for the hashes,
    * one hash shuffle on (band, key), per-key fanout bounded by the
    * band-collision rate; never O(n²). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4 x 15-bit bands guarantee recall only for hamming <= 3")
    val sh = simhashesPortable(docs, idCol, textCol).localCheckpoint(false)
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("b"),
          shiftright(col("simhash"), b * 15).bitwiseAND(lit(32767L)).as("k"))): _*))
          .as("g"))
      .select(col("doc_id"), col("simhash"),
        col("g.b").as("b"), col("g.k").as("k"))
    val a = banded.select(col("b"), col("k"),
      col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val bb = banded.select(col("b"), col("k"),
      col("doc_id").as("doc_b"), col("simhash").as("hb"))
    val x = col("ha").bitwiseXOR(col("hb"))
    val firstAgree = (0 until 4).foldRight(lit(4)) { (i, rest) =>
      when(shiftright(x, i * 15).bitwiseAND(lit(32767L)) === 0L, lit(i))
        .otherwise(rest)
    }
    a.join(bb.hint("shuffle_hash"), Seq("b", "k"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(firstAgree === col("b"))
      .withColumn("hamming", bit_count(x).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact n-gram Jaccard over candidate pairs produced by a blocking
    * key (here: any equi-join the caller supplies). Set semantics,
    * |A∩B| / |A∪B| in integer arithmetic → deterministic. Native
    * one-pass expression (graft.plans.ArrayJaccard) — the composed
    * array_intersect + array_union built two hash sets and two
    * intermediate arrays per pair in the join's inner loop. */
  def jaccard(shA: Column, shB: Column): Column =
    graft.plans.SetExprs.jaccard(shA, shB)

  /** Exact n-gram Jaccard near-duplicate pairs, LSH-routed: candidate
    * pairs come from [[minhashCandidatePairs]] (banded equi-join — a
    * hash shuffle on the band key), then the exact shingle-set Jaccard
    * re-ranks each candidate and `threshold` filters. Replaces the
    * (blocking-key self-join) form, whose hot block is O(n²) at corpus
    * scale; here the quadratic term is bounded by LSH bucket sizes.
    *
    * Recall: P(candidate miss) = (1 − j^rows)^bands — with the default
    * 16 bands × 2 rows a j=0.75 pair is missed with p ≈ 2e-6; pairs at
    * the 0.5 threshold boundary with p ≈ 1e-2, so choose a threshold
    * comfortably below the similarity of the duplicates you must not
    * lose (the test corpus is bimodal: dups ≥ 0.75, noise ≤ 0.15 —
    * recall=1 asserted against the full pairwise join in DedupSpec). */
  /** Incremental near-dup pairs: candidates between a NEW batch and
    * the landed corpus ONLY — the daily-ingest near-dup path, where
    * re-pairing the whole corpus per ingest (old×old, the quadratic
    * bulk) is exactly the work to avoid. Band keys come from the same
    * [[bandKeys]] definition as the full pairwise path, so recall is
    * identical per pair: a (new, old) pair colliding in the full d05
    * run collides here too. Verification is the exact shingle Jaccard,
    * like [[jaccardPairs]]. At 100 TB: the batch side is small, its
    * banded form broadcasts/shuffles cheaply against the corpus band
    * table — which a production deployment persists bucketed via
    * [[saveNearDupKeys]] and consumes through
    * [[jaccardPairsBetweenFromTables]] (the d10 key-table discipline);
    * this inline form re-derives the same keys from corpus text and
    * exists for one-shot runs and as the table path's oracle twin. */
  def jaccardPairsBetween(newDocs: DataFrame, oldDocs: DataFrame,
                          idCol: String, textCol: String, threshold: Double,
                          numHashes: Int = 32, bands: Int = 16,
                          shingleN: Int = 3): DataFrame = {
    // ONE corpus scan computes both key sets (banded signatures AND
    // distinct shingle sets), checkpointed because each feeds a join
    // subtree — this is the inline twin of the PERSISTED artifact
    // [[saveNearDupKeys]] writes; the candidate/verify core is shared
    // so the two paths cannot drift
    val oKeys = nearDupKeys(oldDocs, idCol, textCol, numHashes, shingleN)
      .localCheckpoint(false)
    jaccardPairsBetweenJoinReady(
      nearDupKeys(newDocs, idCol, textCol, numHashes, shingleN)
        .localCheckpoint(false),
      bandKeys(oKeys.select("doc_id", "sig"), numHashes, bands)
        .select("band_idx", "band_key", "doc_id", "sig")
        .hint("shuffle_hash"),
      oKeys.select("doc_id", "sh"),
      threshold, numHashes, bands)
  }

  /** The near-dup key projection — (doc_id, sig, sh) in ONE text
    * scan: the MinHash signature (candidate generation) and the
    * distinct shingle set (exact-Jaccard verification). Callers that
    * feed several pair generators from the same documents (d16: the
    * within-batch pairs AND the vs-corpus pairs) compute this once,
    * localCheckpoint it, and pass it to the *FromKeys forms — one
    * batch text scan total. */
  def nearDupKeys(docs: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 32, shingleN: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      sigExpr(textCol, numHashes, shingleN, portable = false).as("sig"),
      array_distinct(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN))
        .as("sh"))

  /** Persist the corpus-side near-dup key tables in JOIN-READY form —
    * the artifact a daily-ingest near-dup pipeline maintains, mirroring
    * [[saveIncrementalKeys]] for the exact path:
    *   - `{name}_ndband` (band_idx, band_key, doc_id, sig), bucketed on
    *     the band join key: candidate generation reads the bucketed
    *     layout with NO corpus-side exchange or explode per batch.
    *   - `{name}_ndsh` (doc_id, sh), bucketed on doc_id: the verify
    *     join reads shingle sets by id, never corpus text.
    * One corpus text scan builds both. Per-ingest cost then scales with
    * the BATCH plus columnar key-table scans — without this, every
    * batch re-fingerprints the full corpus (at 100 TB: a daily full
    * rescan). Band/hash parameters are the table's contract, as with
    * the IVF index. */
  def saveNearDupKeys(spark: org.apache.spark.sql.SparkSession, name: String,
                      corpus: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 32, bands: Int = 16,
                      shingleN: Int = 3, buckets: Int = 8): Unit =
    writeNearDupKeys(spark, name, corpus, idCol, textCol, numHashes, bands,
      shingleN, buckets, ingestId = "base", overwrite = true)

  /** ONE writer for build and maintenance (the writeIncrementalKeys
    * discipline): save and append share projections and bucket specs
    * by construction, and both land under a replay-safe `ingest_id`
    * partition stamp. */
  private def writeNearDupKeys(spark: org.apache.spark.sql.SparkSession,
                               name: String, docs: DataFrame, idCol: String,
                               textCol: String, numHashes: Int, bands: Int,
                               shingleN: Int, buckets: Int,
                               ingestId: String, overwrite: Boolean): Unit = {
    val keys = nearDupKeys(docs, idCol, textCol, numHashes, shingleN)
      .localCheckpoint(false)
    graft.sources.Bucketing.writeBucketedIngest(spark,
      bandKeys(keys.select("doc_id", "sig"), numHashes, bands)
        .select("band_idx", "band_key", "doc_id", "sig"),
      s"${name}_ndband", Seq("band_idx", "band_key"), buckets, ingestId, overwrite)
    graft.sources.Bucketing.writeBucketedIngest(spark,
      keys.select("doc_id", "sh"), s"${name}_ndsh", Seq("doc_id"),
      buckets, ingestId, overwrite)
  }

  /** The per-ingest MAINTENANCE step for [[saveNearDupKeys]]'s tables:
    * append the (surviving) batch's band-signature and shingle rows,
    * preserving each table's bucketing — so the corpus key tables stay
    * current WITHOUT ever rebuilding from corpus text. A daily
    * pipeline runs: pairs = [[jaccardPairsBetweenFromTables]](batch) →
    * land the kept docs → `appendNearDupKeys(kept, ingestId)`. One
    * batch text scan; cost O(batch). IDEMPOTENT under retry: rows land
    * in the `ingest_id` partition via dynamic partition overwrite, so
    * a crashed-and-retried maintain with the same id replaces its own
    * rows — no duplicated band/shingle rows, hence no duplicated
    * candidate or verified pairs (append-twice ≡ append-once,
    * spec-locked). Distinct ingests must use distinct ids, and doc ids
    * must be disjoint across ingests (the same contract the landing
    * itself needs — a doc id appended under TWO DIFFERENT ingest ids
    * is a pipeline bug upstream of this table). Callers using a
    * staleness fingerprint must re-stamp after appending (the append
    * IS the refresh). */
  def appendNearDupKeys(spark: org.apache.spark.sql.SparkSession, name: String,
                        batch: DataFrame, idCol: String, textCol: String,
                        ingestId: String,
                        numHashes: Int = 32, bands: Int = 16,
                        shingleN: Int = 3, buckets: Int = 8): Unit =
    writeNearDupKeys(spark, name, batch, idCol, textCol, numHashes, bands,
      shingleN, buckets, ingestId, overwrite = false)

  /** [[jaccardPairsBetween]] joining directly against the bucketed key
    * tables written by [[saveNearDupKeys]] — the batch-bound ingest
    * path: the corpus contributes persisted KEYS (band table, shingle
    * table), never text, so no corpus document is re-read per batch. */
  def jaccardPairsBetweenFromTables(spark: org.apache.spark.sql.SparkSession,
                                    newDocs: DataFrame, name: String,
                                    idCol: String, textCol: String,
                                    threshold: Double, numHashes: Int = 32,
                                    bands: Int = 16, shingleN: Int = 3): DataFrame =
    jaccardPairsBetweenFromKeys(spark,
      nearDupKeys(newDocs, idCol, textCol, numHashes, shingleN)
        .localCheckpoint(false),
      name, threshold, numHashes, bands)

  /** [[jaccardPairsBetweenFromTables]] over a precomputed new-side
    * [[nearDupKeys]] frame — for callers that feed several pair
    * generators from one batch scan (d16). */
  def jaccardPairsBetweenFromKeys(spark: org.apache.spark.sql.SparkSession,
                                  newKeys: DataFrame, name: String,
                                  threshold: Double, numHashes: Int = 32,
                                  bands: Int = 16): DataFrame =
    // commit-visibility: a half-landed ingest (crash between the
    // _ndband and _ndsh writes) would yield candidates the verify join
    // can't resolve — invisible until the family's marker lands; no-op
    // for legacy families without a _commits table
    jaccardPairsBetweenJoinReady(newKeys,
      graft.sources.FamilyCommit.visible(spark,
        spark.table(s"${name}_ndband"), name),
      graft.sources.FamilyCommit.visible(spark,
        spark.table(s"${name}_ndsh"), name),
      threshold, numHashes, bands)

  /** The shared new×old candidate + verify core: `nKeys` is the new
    * side's (checkpointed) key frame; `oldBanded` is the corpus band
    * table (band_idx, band_key, doc_id, sig) and `oldShingles` its
    * shingle table (doc_id, sh) — inline checkpoints or persisted
    * bucketed tables, same semantics either way. No text is scanned
    * here at all. */
  private def jaccardPairsBetweenJoinReady(nKeys: DataFrame,
                                           oldBanded: DataFrame,
                                           oldShingles: DataFrame,
                                           threshold: Double, numHashes: Int,
                                           bands: Int): DataFrame = {
    val rows = numHashes / bands
    val a = bandKeys(nKeys.select("doc_id", "sig"), numHashes, bands)
      .select(col("band_idx"), col("band_key"),
        col("doc_id").as("doc_new"), col("sig").as("sig_n"))
    val b = oldBanded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("doc_old"), col("sig").as("sig_o"))
    // multi-band collisions dedup via first-agreeing-band, same as
    // bandedPairs — no pair-distinct shuffle
    val cand = a.join(b, Seq("band_idx", "band_key"))
      .filter(graft.plans.VectorExprs.firstAgreeIndex(
        col("sig_n"), col("sig_o"), rows) === col("band_idx"))
      .select("doc_new", "doc_old")
    cand.join(nKeys.select(col("doc_id").as("doc_new"), col("sh").as("sh_n")),
        "doc_new")
      .join(oldShingles.select(col("doc_id").as("doc_old"), col("sh").as("sh_o")),
        "doc_old")
      .select(col("doc_new"), col("doc_old"),
        jaccard(col("sh_n"), col("sh_o")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, numHashes: Int = 32, bands: Int = 16,
                   shingleN: Int = 3): DataFrame =
    // one text scan computes signatures AND shingle sets (the
    // candidate pass and the verify join used to scan text separately)
    jaccardPairsFromKeys(
      nearDupKeys(docs, idCol, textCol, numHashes, shingleN)
        .localCheckpoint(false),
      threshold, numHashes, bands)

  /** [[jaccardPairs]] over a precomputed (usually checkpointed)
    * [[nearDupKeys]] frame — candidates from the banded signature
    * join, verification from the shingle sets, no text access. */
  def jaccardPairsFromKeys(keys: DataFrame, threshold: Double,
                           numHashes: Int = 32, bands: Int = 16): DataFrame = {
    val cand = bandedPairs(keys.select("doc_id", "sig"), numHashes, bands)
      .select("doc_a", "doc_b")
    cand.join(keys.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(keys.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH estimator CALIBRATION report — the diagnostic behind choosing
    * numHashes/bands: for every banded candidate pair, the signature
    * AGREEMENT count (the integer behind the est-Jaccard the stream
    * suppressor and d03 rank by) is bucketed against ground truth
    * (exact shingle-set intersection), yielding one row per agreement
    * level with pair counts, how many clear the 0.5 / 0.7 exact
    * thresholds (cross-multiplied — no float gate), and the exact
    * intersection/union mass. Read it as the estimator's confusion
    * curve: mass above the diagonal at low agreement = wasted verify
    * work (band too loose); true pairs at low agreement = recall paid
    * to the estimator's variance. All-integer output; candidates come
    * from the SAME portable band join as d03 — never O(n²). */
  def estimatorCalibration(docs: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 32, bands: Int = 16,
                           shingleN: Int = 3): DataFrame = {
    // one text scan: portable signatures AND distinct shingle sets
    val keys = docs.select(col(idCol).as("doc_id"),
        graft.plans.TextHash.minhashSigPortable(
          TextOps.tokens(col(textCol)), shingleN, numHashes).as("sig"),
        array_distinct(TextOps.shingles(
          TextOps.tokens(col(textCol)), shingleN)).as("sh"))
      .localCheckpoint(false)
    val cand = bandedPairs(keys.select("doc_id", "sig"), numHashes, bands)
      .select("doc_a", "doc_b")
    val scored = cand
      .join(keys.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a"), col("sh").as("sh_a")), "doc_a")
      .join(keys.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b"), col("sh").as("sh_b")), "doc_b")
      .select(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("long").as("agree"),
        graft.plans.SetExprs.intersectCount(col("sh_a"), col("sh_b")).as("shared"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("szsum"))
      .withColumn("uni", col("szsum") - col("shared"))
    scored.groupBy("agree").agg(
      count(lit(1)).as("n_pairs"),
      count(when(col("shared") * 2L >= col("uni"), 1)).as("n_exact_ge_050"),
      count(when(col("shared") * 10L >= col("uni") * 7L, 1)).as("n_exact_ge_070"),
      sum(col("shared")).as("sum_shared"),
      sum(col("uni")).as("sum_union"))
  }

  /** Two-phase fuzzy dedup with an EDIT-DISTANCE verifier: candidate
    * pairs come from the portable MinHash band join (never O(n²)),
    * then each candidate is verified with exact Levenshtein over the
    * documents' first `prefixLen` chars — bounding the DP cost to
    * O(prefixLen²) per pair instead of O(|doc|²). The standard
    * near-dup shape when token-set similarity (Jaccard) is too loose:
    * edit distance catches reorderings and small in-place edits that
    * shingle overlap scores identically. Output: (doc_a, doc_b, dist)
    * for pairs with dist ≤ maxDist.
    *
    * 100 TB shape: the band join routes ~duplicate pairs only; the
    * prefix projection keeps the verify join narrow (80 chars/doc,
    * not the document body). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int, maxDist: Int): DataFrame = {
    val cand = minhashCandidatePairsPortable(docs, idCol, textCol)
      .select("doc_a", "doc_b")
    val pfx = docs.select(col(idCol).as("doc_id"),
        substring(col(textCol), 1, prefixLen).as("pfx"))
      .localCheckpoint(false)
    cand.join(pfx.select(col("doc_id").as("doc_a"), col("pfx").as("pa")), "doc_a")
      .join(pfx.select(col("doc_id").as("doc_b"), col("pfx").as("pb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Keep-one-per-content (the d02 rule as a transform): retain the
    * row with the minimum `idCol` per `contentKey` — one window over
    * the content-hash partition, which Catalyst prunes to per-hash
    * top-1 before the shuffle (WindowGroupLimit), instead of a
    * groupBy + join-back that re-scans the input. Shared by the p01
    * pipeline and CorpusStream's batch twin so the keep rule cannot
    * drift between them. */
  def keepOneByContent(df: DataFrame, idCol: String, contentKey: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(contentKey).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Benchmark-contamination check — the decontamination step of a
    * training-data pipeline: for each (train doc, eval doc) pair, the
    * shingle containment |shingles(train) ∩ shingles(eval)| /
    * |shingles(eval)|, thresholded. Scale shape: the eval side (a
    * benchmark, thousands of docs) is BROADCAST as exploded shingles;
    * the train corpus streams through one narrow scan + broadcast hash
    * join — the 100 TB side is never shuffled, and the post-join
    * aggregate is partial (map-side combined) on matched pairs only.
    * Both frames: (`idCol`, `textCol`). Output: train_id, eval_id,
    * containment (the raw integer-count quotient — bit-identical on
    * both engines, so inclusion decisions match without rounding). */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 3,
                    minContainment: Double = 0.05): DataFrame = {
    // the shingle equi-join can only surface pairs sharing ≥1 shingle,
    // so a 0.0 threshold (the full matrix) is not expressible here
    require(minContainment > 0.0,
      s"minContainment must be > 0 (zero-overlap pairs never join); got $minContainment")
    def sh(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
        array_distinct(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN)).as("sh"))
    val ev = sh(eval, "eval_id").localCheckpoint(false)
    val evSizes = ev.select(col("eval_id"), size(col("sh")).cast("long").as("n_eval"))
    val evShingles = ev.select(col("eval_id"), explode(col("sh")).as("shingle"))
    sh(train, "train_id")
      .select(col("train_id"), explode(col("sh")).as("shingle"))
      .join(broadcast(evShingles), "shingle")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(evSizes), "eval_id")
      // raw quotient (not rounded): integer-count division is
      // bit-identical cross-engine; round() diverges on exact halves
      .withColumn("containment",
        col("n_shared").cast("double") / col("n_eval"))
      .filter(col("containment") >= minContainment)
      .select("train_id", "eval_id", "containment")
  }

  /** Duplicate-cluster assignment: connected components over candidate
    * pairs — the keep-one-per-cluster step after LSH. Min-label
    * propagation with pointer jumping (each round also adopts the label
    * of the current label), so convergence takes O(log diameter) rounds
    * — maxIter=8 covers any realistic component. Convergence is
    * detected by comparing the exact label sum between rounds (labels
    * only ever decrease, so an unchanged sum means a fixpoint) — one
    * cheap aggregate instead of a full change-detection join. Throws if
    * the cap is hit without converging rather than silently returning a
    * split component. Output: (doc_id, cluster_id = min doc_id in the
    * component), one row per node appearing in `pairs`. */
  def clusters(pairs: DataFrame, maxIter: Int = 8): DataFrame = {
    // undirected edge list, both directions
    val edges0 = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().localCheckpoint(false)
    // Size the iteration's parallelism to the GRAPH, not the session
    // default: near-dup graphs are a sliver of the corpus (thresholded
    // LSH pairs), and running every per-round shuffle at the session's
    // shuffle.partitions makes tiny label frames pay pure task-schedule
    // overhead × rounds. ~500k edges per partition; grows with the
    // graph, so a billion-edge run still gets full parallelism.
    val parts = math.max(1, math.min(edges0.rdd.getNumPartitions,
      math.ceil(edges0.count() / 500000.0).toInt))
    val edges = edges0.repartition(parts, col("dst")).localCheckpoint(false)
    def labelSum(df: DataFrame): BigDecimal = {
      // sum() over an empty frame is SQL NULL — map it to 0 explicitly
      val s = df.agg(sum(col("cluster_id")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0)
      if (s == null) BigDecimal(0) else BigDecimal(s)
    }
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .repartition(parts, col("doc_id"))
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .select(col("src").as("doc_id"), col("cluster_id"))
      // pointer jump: also adopt the label of the current label
      val viaLabel = labels.alias("a")
        .join(labels.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("jump")).alias("b"), "cluster_id")
        .select(col("doc_id"), col("jump").as("cluster_id"))
      val next = labels.union(viaNeighbors).union(viaLabel)
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
        .repartition(parts, col("doc_id"))
        .localCheckpoint(false)
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — raise maxIter")
    labels
  }

  /** Incremental cluster maintenance — fold a new batch into an
    * EXISTING cluster assignment without re-clustering the corpus,
    * touching ONLY the components the delta is adjacent to:
    *   1. roots touched = the old roots of any delta-pair endpoint;
    *   2. connected components over (star edges member→root of the
    *      TOUCHED components only) ∪ (the delta's near-dup pairs:
    *      within-batch and batch×corpus);
    *   3. untouched assignments pass through UNCHANGED.
    * Star edges preserve each touched component's connectivity through
    * its root, and an untouched component has no delta edge incident
    * by construction, so it is a whole component of the new graph too
    * — the union is IDENTICAL to re-running [[clusters]] over the full
    * pair set (min-id labels are per-component, so labels agree;
    * d16's oracle re-derives them from scratch, and the random-graph
    * property spec covers bridges/merges). Batch docs that BRIDGE two
    * old clusters merge them to the smaller root, exactly as a rebuild
    * would.
    *
    * Cost per ingest: the iterative CC rounds — the expensive,
    * multi-shuffle part — run over O(delta neighborhood) rows (the
    * touched components + delta edges), not the cluster table; the
    * cluster table itself is read twice as a narrow columnar scan
    * (semi-join against the tiny touched-root set — broadcast — and
    * the pass-through anti-join), which is the irreducible price of
    * emitting the full assignment. The corpus's LSH/banding never
    * re-runs (its keys are the persisted [[saveNearDupKeys]] tables
    * the delta pairs come from). */
  def incrementalClusters(oldClusters: DataFrame, deltaPairs: DataFrame,
                          maxIter: Int = 8): DataFrame = {
    // checkpointed: feeds the endpoint set AND the subgraph union
    val delta = deltaPairs.select(col("doc_a"), col("doc_b"))
      .localCheckpoint(false)
    val ends = delta.select(col("doc_a").as("doc_id"))
      .union(delta.select(col("doc_b").as("doc_id"))).distinct()
    // tiny (≤ 2·|delta| roots): both component joins broadcast it
    val touchedRoots = oldClusters.join(ends, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct().localCheckpoint(false)
    val touched = oldClusters
      .join(broadcast(touchedRoots), Seq("cluster_id"), "left_semi")
    val merged = clusters(
      touched.select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
        .union(delta), maxIter)
    oldClusters.join(broadcast(touchedRoots), Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
      .unionByName(merged.select("doc_id", "cluster_id"))
  }

  /** The delta EDGE SET an ingest feeds [[incrementalClusters]]: the
    * batch's within-batch near-dup pairs ∪ its pairs against the
    * persisted corpus key tables (`name`, from [[saveNearDupKeys]]) —
    * ONE batch text scan feeds both generators via a shared
    * checkpointed [[nearDupKeys]] frame. Defined once so the
    * registered d16 query and [[appendClusterAssignments]] cannot drift
    * (the writeIncrementalKeys single-definition discipline).
    * Output: (doc_a = batch doc, doc_b = the other side). */
  def incrementalDeltaPairs(spark: org.apache.spark.sql.SparkSession,
                            batch: DataFrame, name: String,
                            idCol: String, textCol: String, threshold: Double,
                            numHashes: Int = 32, bands: Int = 16,
                            shingleN: Int = 3): DataFrame = {
    val nKeys = nearDupKeys(batch, idCol, textCol, numHashes, shingleN)
      .localCheckpoint(false)
    jaccardPairsFromKeys(nKeys, threshold, numHashes, bands)
      .select("doc_a", "doc_b")
      .union(jaccardPairsBetweenFromKeys(spark, nKeys, name, threshold,
          numHashes, bands)
        .select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b")))
      // when the family's key tables were already appended for this
      // ingest (order is immaterial by contract), the batch matches
      // ITSELF on the corpus side — a self-pair is never a near-dup
      // edge, and left in it would mint singleton vertices in the
      // cluster fold (breaking the >=2-member membership contract)
      .filter(col("doc_a") =!= col("doc_b"))
  }

  /** Persist the near-dup CLUSTER assignment artifact as the THIRD
    * maintained member of the `name` near-dup family (alongside
    * `_ndband`/`_ndsh`): `{name}_clusters` (doc_id, cluster_id),
    * ingest-partitioned and bucketed on doc_id via
    * [[graft.sources.Bucketing.writeBucketedIngest]] — so d14-style
    * canonical selection, d17-style duplication reports, and p04-style
    * decontaminated splits consume a store that is replay-idempotent,
    * audit-visible, compactable, AND inside `--mode forget`'s reach
    * ([[Forget.forgetFromClusters]]). `assignments` is the bootstrap
    * [[clusters]] output over the corpus's verified pairs; it lands
    * under `ingest_id=base`. */
  def saveClusterAssignments(spark: org.apache.spark.sql.SparkSession,
                             name: String, assignments: DataFrame,
                             buckets: Int = 8): Unit =
    graft.sources.Bucketing.writeBucketedIngest(spark,
      assignments.select("doc_id", "cluster_id"), s"${name}_clusters",
      Seq("doc_id"), buckets, ingestId = "base", overwrite = true)

  /** Per-ingest maintenance for [[saveClusterAssignments]]'s table —
    * the [[incrementalClusters]] fold as a PERSISTED family op: the
    * batch's delta pairs (within-batch ∪ batch×corpus, from the
    * family's own `_ndband`/`_ndsh` key tables — corpus text is never
    * re-scanned) fold into the stored assignment, and the table is
    * updated partition-targeted:
    *   - the batch docs' brand-new rows land under `ingest_id` via
    *     dynamic partition overwrite (replay-idempotent);
    *   - old docs whose label CHANGED (a batch doc bridged their
    *     clusters — bounded by the delta neighborhood) have their
    *     partitions rewritten in place with the merged labels, bucket
    *     spec preserved and partition mtime restored (retention must
    *     not mistake a relabel for a fresh landing).
    * CRASH-CONVERGENT via a durable edit log
    * ([[graft.sources.RelabelLog]]): the full relabel set is recorded
    * BEFORE the first partition rewrite and replayed as a preamble on
    * every entry. Recomputing the fold from the current table state is
    * NOT enough on its own — a crash between the per-partition relabel
    * rewrites leaves one component split across two labels, and once
    * the delta-incident member has moved to the merged label, nothing
    * links the stale half to a delta endpoint anymore, so a log-less
    * retry would never re-touch it (the unsafe direction for dedup /
    * decontamination). With the log, retry-until-success reaches the
    * exact rebuild-equivalent state (the ReplaySpec contract): replay
    * finishes the relabels, then the recompute finds nothing left to
    * change and the batch partition overwrites itself. Run it with the
    * SAME `ingestId` as the family's key append; order against
    * [[appendNearDupKeys]] is immaterial (duplicate/self edges are
    * harmless to connected components).
    *
    * AUDIT CAVEAT: a batch whose docs have NO near-dup edge
    * legitimately lands zero cluster rows — its `ingest_id` partition
    * never exists — so including `_clusters` in an
    * [[graft.sources.Bucketing.auditIngests]] member list flags such
    * ingests as inconsistent. That flag is SAFE to repair (re-running
    * this fold is convergent and a no-op for an edgeless batch), but
    * audit `_clusters` only when batches are expected to contribute
    * rows, or treat its missing-partition rows as advisory.
    *
    * COMMIT-VISIBILITY: the CLUSTER table itself is read directly (the
    * writer converges from the true current state), but the corpus-side
    * KEY-TABLE read inside [[incrementalDeltaPairs]] goes through
    * [[jaccardPairsBetweenFromKeys]] and therefore IS marker-gated once
    * a `{name}_commits` table exists — deliberately: a crashed prior
    * ingest's keys may be HALF-landed (bands without shingles, or the
    * reverse), and edges computed against partial keys are silently
    * incomplete either way. The consequence is that a fold run while a
    * prior ingest sits uncommitted records NO edges against that
    * ingest's docs — which is why crashed-ingest REPAIR must re-run the
    * cluster fold for the healed ingest after re-committing it
    * (EdgeRunner.runRepair does; the healed fold re-derives its edges
    * against everything visible by then, including batches folded
    * during the outage). */
  def appendClusterAssignments(spark: org.apache.spark.sql.SparkSession,
                               name: String, batch: DataFrame,
                               idCol: String, textCol: String,
                               threshold: Double, ingestId: String,
                               numHashes: Int = 32, bands: Int = 16,
                               shingleN: Int = 3): Unit = {
    val tbl = s"${name}_clusters"
    require(spark.catalog.tableExists(tbl),
      s"append into missing cluster table '$tbl' — bootstrap with " +
        "saveClusterAssignments first")
    // heal a prior attempt's partially-applied relabels FIRST: the fold
    // below derives touched components from CURRENT labels, and a
    // half-relabeled component is invisible to it (see RelabelLog)
    graft.sources.RelabelLog.recover(spark, tbl)
    val old = spark.table(tbl).select("doc_id", "cluster_id")
    val next = incrementalClusters(old,
      incrementalDeltaPairs(spark, batch, name, idCol, textCol, threshold,
        numHashes, bands, shingleN))
    // both write inputs are BOUNDED (batch / delta neighborhood) and
    // eagerly materialized: the partition rewrites below overwrite the
    // very table these frames read (the self-read-overwrite rule)
    val newRows = next.join(old, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val changed = next.select(col("doc_id"), col("cluster_id").as("new_cid"))
      .join(old, Seq("doc_id"))
      .filter(col("new_cid") =!= col("cluster_id"))
      .select("doc_id", "new_cid")
      .localCheckpoint(true)
    if (!changed.isEmpty) {
      // durable apply: log the FULL relabel set, then rewrite the
      // affected partitions by replaying it — a crash at any point
      // retries into recover(), which finishes the replay before the
      // next fold recomputes anything
      graft.sources.RelabelLog.begin(spark, tbl, changed)
      graft.sources.RelabelLog.recover(spark, tbl)
    }
    // zero new rows (pure-merge or replayed batch) is a no-op write:
    // dynamic partition overwrite touches no partition
    graft.sources.Bucketing.writeBucketedIngest(spark,
      newRows.select("doc_id", "cluster_id"), tbl, Seq("doc_id"),
      graft.sources.Bucketing.bucketsOf(spark, tbl), ingestId)
    spark.catalog.refreshTable(tbl)
  }

  /** Containment (overlap-coefficient) near-dup pairs — the dedup
    * signal symmetric Jaccard MISSES: a short document quoted whole
    * inside a long one shares all its shingles, but the union is
    * dominated by the long side, so jaccard stays low while
    * containment |A∩B| / min(|A|,|B|) is ~1. Candidates come from a
    * shingle-key equi-join restricted to shingles in at most
    * `maxDocs` documents (the d12 boilerplate cap — it bounds per-key
    * fanout at C(maxDocs,2), keeping the join linear in distinct
    * shingles; a doc whose EVERY shingle is corpus-common is
    * boilerplate, not a containment hit, and is deliberately outside
    * the candidate contract). Verification is exact: full distinct-
    * shingle sets intersect per candidate pair, and the threshold
    * gate is an INTEGER cross-multiplication
    * (`den·n_shared ≥ num·min(n_a,n_b)` — the t21 ratio-gate
    * discipline; no float ever materializes, so the output is
    * hash-exact by construction). Output per unordered pair:
    * (doc_a < doc_b, n_a, n_b, n_shared). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       thresholdNum: Int = 4, thresholdDen: Int = 5,
                       shingleN: Int = 3, maxDocs: Int = 16): DataFrame = {
    require(thresholdDen > 0 && thresholdNum >= 0,
      "containment threshold is a fraction num/den")
    // one text scan: distinct shingle-KEY sets (verify side) and their
    // exploded form (candidate side) both derive from it. Shingles are
    // hashed to 64-bit LONG keys at build (r19 — previously 16-hex md5
    // prefixes, i.e. the same 64 bits as strings): set sizes and
    // intersections are unchanged (distinct-after-hash, the same
    // injectivity-on-the-corpus argument either way, oracle-checked at
    // every SF), but candidates now shuffle/compare 8-byte longs
    // instead of 16-byte UTF8 strings, and the sets are SORTED once
    // per document so the verify stage's |∩| is an allocation-free
    // merge scan per pair instead of a hash-set build over strings
    // (guide §2.3 narrower types + §4.2 native per-task work; the
    // verify stage was the slowest genuinely-data-bound path left
    // after r18).
    val sets = docs.select(col(idCol).as("doc_id"),
        sort_array(array_distinct(transform(
          TextOps.shingles(TextOps.tokens(col(textCol)), shingleN),
          s => xxhash64(s)))).as("sh"))
      .localCheckpoint(false)
    val keys = sets.select(col("doc_id"), explode(col("sh")).as("gk"))
    val rare = keys.groupBy("gk")
      .agg(count(lit(1)).as("ndocs"))
      .where(col("ndocs") <= maxDocs)
      .select("gk")
    val keyed = keys.join(rare, Seq("gk"), "left_semi")
    val cand = keyed.select(col("gk"), col("doc_id").as("doc_a"))
      .join(keyed.select(col("gk"), col("doc_id").as("doc_b")), Seq("gk"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        // native one-pass |∩| (no intermediate intersection array in
        // the verify join's inner loop — the ArrayJaccard lesson);
        // the sets are distinct + sorted by construction above, so the
        // typed merge-scan twin applies (no per-pair hash set at all)
        graft.plans.SetExprs.sortedLongIntersectCount(col("sh_a"), col("sh_b"))
          .as("n_shared"))
      .where(col("n_shared") * thresholdDen >=
        least(col("n_a"), col("n_b")) * thresholdNum)
  }

  /** Exact duplicated-substring profiling — the substring-level dedup
    * signal of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al., 2021), re-expressed as a distributed
    * inverted-index pipeline instead of a suffix array: a token
    * position is DUPLICATED when its k-token gram occurs at least twice
    * corpus-wide (repeats within one document count too, as in the
    * paper); duplicated windows closer than k positions overlap in
    * token coverage and merge into maximal spans. Per document:
    * `n_tokens`, `n_pos` (gram positions), `n_dup_pos`, `n_spans`
    * (maximal merged spans), `dup_tokens` (exact covered-token count —
    * the span-merge rule `gap > k` makes the interval sum overlap-free),
    * `dup_frac` (= dup_tokens / n_tokens). Docs shorter than k tokens
    * report zeros.
    *
    * Scale shape: grams shuffle as 64-bit xxhash64 longs (fixed
    * 64-bit keys, never raw k-gram text); the corpus-wide occurrence
    * count gets map-side partial aggregation, and the duplicate filter
    * is a semi join against that count on the SAME child plan — both
    * sides share one Exchange (ReusedExchange), so the gram stream is
    * scanned and shuffled once. The span merge is a per-document
    * window + aggregate over dup positions only (a sliver of the
    * corpus). Nothing is quadratic in documents or corpus size. */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8): DataFrame = {
    require(k >= 1, s"gram width must be >= 1, got $k")
    val toks = TextOps.tokens(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      greatest(size(toks) - (k - 1), lit(0)).cast("long").as("n_pos"))
    val grams = docs
      .select(col(idCol).as("doc_id"), toks.as("t"))
      .where(size(col("t")) >= k)
      .select(col("doc_id"),
        posexplode(TextOps.shingles(col("t"), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        // 64-bit LONG gram keys (r19; previously 16-hex md5 prefixes —
        // the same 64 bits as strings): equality-only use, so the
        // injectivity-on-the-corpus argument is unchanged while every
        // shuffle/compare moves an 8-byte long instead of a 16-byte
        // UTF8 string and the hash itself is one xxhash pass instead
        // of md5 + hex + substring (guide §2.3 narrower types)
        xxhash64(col("gram")).as("gkey"))
    val dupKeys = grams.groupBy("gkey")
      .agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= 2)
      .select("gkey")
    val dup = grams.join(dupKeys, Seq("gkey"), "left_semi")
      .select("doc_id", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val spans = dup
      // new span when the previous dup position is > k back: windows
      // [prev, prev+k-1] and [pos, pos+k-1] neither overlap nor touch
      .withColumn("brk",
        when(lag("pos", 1).over(w).isNull
          || col("pos") - lag("pos", 1).over(w) > k, 1).otherwise(0))
      .withColumn("span_id", sum("brk").over(w))
      .groupBy("doc_id", "span_id")
      .agg(count(lit(1)).as("n_in_span"),
        min("pos").as("p0"), max("pos").as("p1"))
    val perDoc = spans.groupBy("doc_id")
      .agg(sum("n_in_span").as("n_dup_pos"),
        count(lit(1)).as("n_spans"),
        sum(col("p1") - col("p0") + k).as("dup_tokens"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_pos"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        // n_tokens >= 1 always (splitting "" yields [""]), no div-0
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_frac"))
  }

  /** Boundary walk over a SORTED array of disjoint, non-touching
    * token-index spans (struct p0/p1): the tokens NOT covered by any
    * span, as the concatenation of the inter-span slices —
    * O(n_tokens + n_spans), never a per-token scan of the span list.
    * Keep-interval i runs from (prev span end + 1) to (next span
    * start − 1), with virtual sentinels at 0 and n−1; empty head/tail
    * intervals (span at a document edge) slice to length 0. Shared by
    * the d23 rewrite and the t47 repetition-coverage profile. */
  private[operators] def keptBySpans(t: Column, spans: Column): Column = {
    val starts = concat(array(lit(0)),
      transform(spans, sp => sp.getField("p1") + lit(1)))
    val ends = concat(transform(spans, sp => sp.getField("p0") - lit(1)),
      array(size(t) - lit(1)))
    flatten(zip_with(starts, ends, (s0, e0) =>
      when(e0 >= s0, slice(t, s0 + lit(1), e0 - s0 + lit(1)))
        .otherwise(slice(t, lit(1), lit(0)))))
  }

  /** Duplicated-substring REMOVAL (the production half of
    * [[substringDupStats]] — Lee et al. 2021's ExactSubstr dedup as a
    * corpus REWRITE): every k-token gram occurring ≥ 2 times
    * corpus-wide keeps its FIRST occurrence (min (doc_id, pos) — the
    * deterministic corpus order) and every other occurrence is
    * removal-marked; marked windows merge into maximal spans (the d11
    * gaps-and-islands rule, gap > k splits) and the covered tokens are
    * dropped from the document. Output per doc: `n_tokens`,
    * `n_removed_tokens`, `n_removed_chars` (token characters dropped —
    * the storage win), and `clean_text` (remaining tokens re-joined).
    * Docs shorter than k tokens pass through untouched. `minSpan`
    * (token length) lets callers apply Lee et al.'s span floor —
    * merged spans shorter than it are NOT removed (their §3 removes
    * only sufficiently long repeats); the default 1 removes every
    * marked span (every span is ≥ k tokens, so any `minSpan` ≤ k is
    * a no-op).
    *
    * Scale shape: same inverted-index discipline as the stats, except
    * the gram key is the FULL 128-bit md5 — unlike the d11 stats twin
    * this operator is a destructive rewrite, and at ~10^13 grams a
    * 64-bit key expects millions of birthday collisions, each silently
    * deleting a unique token run (128-bit expects ~none). Grams
    * shuffle ONCE, and the keep-first rule rides THE SAME aggregation
    * that finds duplicates (count + min(struct(doc_id, pos)) in one
    * groupBy — no second shuffle, no per-key sort window). The rewrite
    * itself is one row per doc: the merged spans collect to a small
    * sorted per-doc array (bounded by n_tokens/k) and — because merged
    * spans are disjoint and non-touching — the kept tokens are the
    * concatenation of the inter-span slices: one boundary walk,
    * O(n_tokens + n_spans) per doc, not a per-token scan of the span
    * list (a filter+exists pass is O(n·s) ≈ n²/k — a 1M-token
    * pathological doc would pay ~10⁹ comparisons in one task). */
  def substringDedupRewrite(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 8, minSpan: Int = 1): DataFrame = {
    require(k >= 1, s"gram width must be >= 1, got $k")
    require(minSpan >= 1, s"min span length must be >= 1, got $minSpan")
    // one documents scan: the gram stream and the rewrite both read
    // this checkpointed token table
    val base = docs.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("t"))
      .localCheckpoint(false)
    val grams = base.where(size(col("t")) >= k)
      .select(col("doc_id"),
        posexplode(TextOps.shingles(col("t"), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), md5(col("gram")).as("gkey"))
    val firsts = grams.groupBy("gkey")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("n_occ") >= 2)
    val marked = grams.join(firsts, Seq("gkey"))
      .where(col("doc_id") =!= col("first.doc_id")
        || col("pos") =!= col("first.pos"))
      .select("doc_id", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val spans = marked
      .withColumn("brk",
        when(lag("pos", 1).over(w).isNull
          || col("pos") - lag("pos", 1).over(w) > k, 1).otherwise(0))
      .withColumn("span_id", sum("brk").over(w))
      .groupBy("doc_id", "span_id")
      // token-INDEX bounds: a span of windows [p0 .. p1] covers tokens
      // [p0 .. p1 + k - 1]
      .agg(min("pos").as("p0"), (max("pos") + lit(k - 1)).as("p1"))
      // Lee et al.'s span floor: spans shorter than minSpan survive
      // in the document (filtered here, BEFORE the per-doc collect,
      // so short spans never even reach the rewrite row)
      .where(col("p1") - col("p0") + lit(1) >= minSpan)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("p0"), col("p1"))))
        .as("spans"))
    def charsOf(arr: Column): Column =
      aggregate(arr, lit(0L), (a, x) => a + length(x))
    base.join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("t"))
          .otherwise(keptBySpans(col("t"), col("spans"))))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long")
          .as("n_removed_tokens"),
        (charsOf(col("t")) - charsOf(col("kept"))).as("n_removed_chars"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** Inter-source n-gram overlap matrix — the cross-source duplication
    * diagnostic of a corpus audit (how much of source A's shingle set
    * recurs in source B: shared crawls, mirrored sites, licensing
    * leaks). Universe = DISTINCT (source, shingle-key) pairs, with
    * shingles present in more than `maxSources` sources excluded as
    * boilerplate (navigation chrome / licence text carries no overlap
    * signal). Output per unordered source pair: shared-key count and
    * Jaccard over the capped universe.
    *
    * Scale shape: one explode + hash-distinct for the universe, a
    * self-equi-join ON THE SHINGLE KEY (never source×source), and the
    * `maxSources` cap bounds per-key fanout at C(maxSources, 2) pairs —
    * so the join output is linear in distinct shingles even when the
    * corpus has millions of sources. */
  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String,
                    shingleN: Int = 3, maxSources: Int = 16): DataFrame = {
    require(maxSources >= 2, s"maxSources must be >= 2, got $maxSources")
    // materialize the distinct universe ONCE (the d03 localCheckpoint
    // discipline): it feeds the cap, both pair sides, and both totals —
    // recomputing the explode+distinct per consumer made d12 the
    // second-slowest bench query (4 document scans; 2.08 s -> this)
    val keys = docs
      .select(col(srcCol).as("src"),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN)).as("sh"))
      // 64-bit LONG shingle keys (r19, the d11/d19 switch): equality-
      // only use — distinct universe, cap count, self-join — so longs
      // replace the 16-hex md5 prefixes at identical key strength
      .select(col("src"), xxhash64(col("sh")).as("gkey"))
      .distinct()
      .localCheckpoint(false)
    // (src, gkey) is distinct, so a plain count per key IS the number
    // of sources carrying the key
    val capped = keys.groupBy("gkey")
      .agg(count(lit(1)).as("nsrc"))
      .where(col("nsrc") <= maxSources)
      .select("gkey")
    val u = keys.join(capped, Seq("gkey"), "left_semi")
      .localCheckpoint(false)
    val totals = u.groupBy("src").agg(count(lit(1)).as("total"))
    val pairs = u.select(col("gkey"), col("src").as("src_a"))
      .join(u.select(col("gkey"), col("src").as("src_b")), Seq("gkey"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(totals.select(col("src").as("src_a"), col("total").as("ta")), Seq("src_a"))
      .join(totals.select(col("src").as("src_b"), col("total").as("tb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("ta") + col("tb") - col("n_shared")), 6).as("jacc"))
  }
}
