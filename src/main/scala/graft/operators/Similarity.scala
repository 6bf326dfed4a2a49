package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Exact, VectorOps}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, as a large-scale pipeline needs both:
  *  - brute-force cosine top-k: exact baseline. Queries are broadcast
  *    (small side), candidates stream through — one pass over the
  *    corpus, no shuffle of the big side, norms precomputed per row.
  *  - LSH-bucketed ANN (random hyperplanes): the 100 TB path. Each
  *    vector maps to L signature buckets; candidate generation is an
  *    equi-join on the bucket key (hash shuffle, no cross join), then
  *    exact cosine re-ranking within candidates.
  */
object Similarity {
  /** Brute-force cosine top-k of `queries` against `candidates`.
    * Both frames: (id, vec array<double>). Output: query_id, neighbor_id,
    * cos (rounded 6dp), rn. Ranking is on the ROUNDED similarity with id
    * tiebreak, so ordering is reproducible across engines. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      VectorOps.norm(col("vec")).as("qn"))
    val c = candidates.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      VectorOps.norm(col("vec")).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", round(VectorOps.dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")), 6))
    Relational.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cos", "rn")
  }

  /** Metadata-FILTERED exact top-k — the production "vector search
    * within a language/tenant/label" shape. The filter is an EQUI-JOIN
    * key, not a post-filter: candidates hash-join the (broadcast)
    * queries on the filter value, so vectors that cannot qualify are
    * eliminated BEFORE any similarity arithmetic — at 100 TB the
    * dominant cost of filtered search is scanning vectors the filter
    * excludes, and the equi-join form lets partition pruning / DPP
    * skip them entirely when the corpus is partitioned (or z-ordered)
    * by the filter column. The common production bug this operator
    * exists to avoid: post-filtering an UNFILTERED top-k under-fills k
    * whenever the filter is selective (the qualifying neighbors were
    * never in the unfiltered shortlist), and "enlarge k and hope" has
    * no correct setting. Both frames: (id, vec, <filterCol>). Output:
    * query_id, <filterCol>, neighbor_id, cos (rounded 6dp), rn. */
  def filteredTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                   filterCol: String): DataFrame = {
    val q = queries.select(col("id").as("query_id"),
      col(filterCol), col("vec").as("qv"), VectorOps.norm(col("vec")).as("qn"))
    val c = candidates.select(col("id").as("neighbor_id"),
      col(filterCol), col("vec").as("cv"), VectorOps.norm(col("vec")).as("cn"))
    val scored = c.join(broadcast(q), Seq(filterCol))
      .withColumn("cos", round(VectorOps.dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")), 6))
    Relational.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", filterCol, "neighbor_id", "cos", "rn")
  }

  /** Deterministic pseudo-random hyperplanes: planes(p)(d) in [-1,1). */
  private def planes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    var x = 0x853C49E6748FEA9BL
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(nPlanes, dim)(next())
  }

  /** Engine-PORTABLE hyperplanes — the ANN twin of
    * Dedup.portableSignatures: plane(p)(d) is derived from the md5 hex
    * digest of "p:d" (60 bits → [-1,1)), so any engine with md5
    * rebuilds the matrix bit-for-bit and the whole LSH bucket pipeline
    * becomes oracle-checkable (s03). Identical statistical quality to
    * the LCG family; one digest per matrix cell, computed once on the
    * driver — the per-row cost is unchanged. */
  private[graft] def portablePlanes(nPlanes: Int, dim: Int,
                                    salt: String = ""): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, d) =>
      val hex = md.digest(s"$salt$p:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val x = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      x.toDouble / (1L << 60).toDouble * 2.0 - 1.0
    }
  }

  /** All per-table sign-pattern signatures in one native expression
    * (graft.plans.HyperplaneSigs): one fused loop over tables × bits
    * planes — composing per-table signatures from separate dot
    * expressions exceeded Janino's method limit at 48 × 4 planes and
    * silently fell back to interpreted eval. */
  private def signatures(vec: Column, all: Array[Array[Double]],
                         tables: Int, bitsPerTable: Int): Column =
    graft.plans.VectorExprs.hyperplaneSigs(vec, all, tables, bitsPerTable)

  /** ANN via L random-hyperplane hash tables of `bitsPerTable` bits.
    * Vectors sharing a (table, signature) bucket with a query are scored
    * exactly; top-k per query returned. Recall grows with L; cost is
    * bounded by bucket sizes (no quadratic blowup on the full corpus).
    *
    * 100 TB shape: the query side (small) is BROADCAST as exploded
    * buckets, the corpus side streams through one narrow map-side
    * join — the corpus is never shuffled for candidate generation. A
    * (query, neighbor) pair colliding in several tables is scored only
    * in the FIRST agreeing one (native FirstAgreeIndex over the sig
    * arrays both rows carry), so no pair-distinct() shuffle and no
    * vector join-backs exist; the only shuffle in the whole probe is
    * the final per-query top-k window. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              dim: Int, tables: Int = 4, bitsPerTable: Int = 8): DataFrame =
    lshTopKWith(planes(tables * bitsPerTable, dim),
      queries, candidates, k, tables, bitsPerTable)

  /** [[lshTopK]] over the portable md5-derived plane family — the
    * oracle-checkable twin (same probe plan; only the plane constants
    * differ). */
  def lshTopKPortable(queries: DataFrame, candidates: DataFrame, k: Int,
                      dim: Int, tables: Int = 4, bitsPerTable: Int = 8): DataFrame =
    lshTopKWith(portablePlanes(tables * bitsPerTable, dim),
      queries, candidates, k, tables, bitsPerTable)

  private def lshTopKWith(all: Array[Array[Double]], queries: DataFrame,
                          candidates: DataFrame, k: Int,
                          tables: Int, bitsPerTable: Int): DataFrame = {
    def bucketed(df: DataFrame, idName: String, vecName: String,
                 normName: String, sigName: String): DataFrame =
      df.select(col("id").as(idName), col("vec").as(vecName),
          VectorOps.norm(col("vec")).as(normName),
          signatures(col("vec"), all, tables, bitsPerTable).as(sigName))
        .select(col(idName), col(vecName), col(normName), col(sigName),
          posexplode(col(sigName)).as(Seq("tbl", "sig")))
    val scored = bucketed(candidates, "neighbor_id", "cv", "cn", "sc")
      .join(broadcast(bucketed(queries, "query_id", "qv", "qn", "sq")),
        Seq("tbl", "sig"))
      .filter(graft.plans.VectorExprs.firstAgreeIndex(col("sq"), col("sc")) === col("tbl"))
      .withColumn("cos",
        round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    Relational.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cos", "rn")
  }

  // ------------------------------------------------------------- IVF

  /** IVF (inverted-file) index: deterministic k-means over the corpus;
    * vectors are listed under their nearest centroid. Queries probe
    * only the `nProbe` nearest lists — the classic recall/cost dial
    * for billion-vector corpora. Centroids live on the driver (a few
    * KB: nCentroids × dim) and ship to executors as literals; the
    * corpus itself never leaves its partitions except the one hash
    * shuffle on centroid id at query time. */
  case class IVFModel(centroids: Array[Array[Double]], assignments: DataFrame)

  /** Per-centroid (distance-surrogate, index) structs for the probe
    * routers — array_sort over these IS the cell ranking (|c|^2 - 2 v.c
    * ascending, ties by index). ONE definition shared by every probe
    * variant (ivfTopK/filtered, ADC raw/residual/filtered, the tuning
    * grid's scored-candidate pass): the s23 parity spec and the
    * AnnCommitSpec twins are locked to bit-identical routing, so a
    * tie-break tweak must change every consumer at once, not one copy. */
  private def centroidDists(centroids: Array[Array[Double]], vec: Column): Column =
    array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * VectorOps.dot(vec, typedlit(c.toSeq))).as("d"),
        lit(i).as("i"))
    }: _*)

  /** argmin over centroids of the L2 distance surrogate
    * (|c|² − 2·v·c — |v|² is constant per row): array_min over
    * struct(dist, idx) picks the lowest distance, ties by index. */
  private def nearestCentroid(vec: Column, cents: Array[Array[Double]]): Column =
    array_min(array(cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * VectorOps.dot(vec, typedlit(c.toSeq))).as("d"),
        lit(i).as("i"))
    }: _*)).getField("i")

  /** Build the index: hash-seeded init (first `nCentroids` vectors by
    * xxhash64 of id — deterministic pseudo-random spread), then
    * `iters` Lloyd rounds. Each round is one broadcast-assign pass +
    * one hash aggregation; centroid updates collect only
    * nCentroids × dim doubles to the driver. */
  def ivfIndex(candidates: DataFrame, nCentroids: Int, iters: Int = 3,
               portableInit: Boolean = false,
               extraCols: Seq[String] = Nil): IVFModel = {
    // each Lloyd round re-reads the corpus; materialize it once.
    // extraCols are METADATA RIDING THE POSTING LIST (tenant, lang,
    // label — whatever filtered search will gate on): they take no
    // part in clustering, but landing them in the assignments table
    // lets [[ivfFilteredTopK]] filter inside the posting scan instead
    // of joining a second corpus-wide metadata table per probe
    val base = candidates
      .select((Seq("id", "vec") ++ extraCols).map(col): _*)
      .localCheckpoint(false)
    // init: first nCentroids vectors under a deterministic pseudo-random
    // id order. portableInit orders by the md5 hex of the id string —
    // reproducible on any engine with md5 (the s04 oracle re-derives the
    // same seeds); default keeps the cheaper native xxhash64 spread.
    val seedOrder =
      if (portableInit) md5(col("id").cast("string").cast("binary"))
      else xxhash64(col("id"))
    var cents: Array[Array[Double]] = base
      .orderBy(seedOrder).limit(nCentroids)
      .select(col("vec")).collect()
      .map(_.getSeq[Double](0).toArray)
    var it = 0
    while (it < iters) {
      val assigned = base.withColumn("cid", nearestCentroid(col("vec"), cents))
      val updated = assigned
        .select(col("cid"), posexplode(col("vec")))
        .groupBy(col("cid"), col("pos"))
        .agg(graft.functions.Exact.davg(col("col")).as("c"))
        .collect()
      val next = cents.map(_.clone())
      updated.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next
      it += 1
    }
    IVFModel(cents, base.withColumn("cid", nearestCentroid(col("vec"), cents)))
  }

  /** Persist an IVF index as catalog tables: centroids (tiny, one row
    * per (cid, pos)) + assignments bucketed by centroid id, so probes
    * join the posting lists with no shuffle of the corpus — build
    * once, probe many, the production lifecycle. */
  def saveIvfIndex(spark: org.apache.spark.sql.SparkSession, model: IVFModel,
                   name: String, buckets: Int = 8): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .flatMap { case (c, i) => c.zipWithIndex.map { case (v, p) => (i, p, v) } }
      .toSeq.toDF("cid", "pos", "v")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_centroids")
    // ingest-partitioned from birth so per-ingest appends
    // ([[appendToIvfIndex]]) are replay-idempotent partitions
    graft.sources.Bucketing.writeBucketedIngest(spark,
      model.assignments, s"${name}_assignments", Seq("cid"), buckets,
      ingestId = "base", overwrite = true)
  }

  /** Build-once / probe-many entry: returns the index named `name`,
    * building it from `corpus` and persisting it (assignments bucketed
    * by centroid id) only when the catalog doesn't already hold it.
    * Callers on the hot path (Bench, the registered s04 query) thus
    * time only the probe after the first invocation; Bench's prepare
    * step triggers the build before the clock starts.
    *
    * The cache key is the NAME: callers must encode the corpus identity
    * in it (ivfIndexName encodes the SF dir). A persisted index whose
    * centroid count disagrees with `nCentroids` is rebuilt rather than
    * silently returned — the cheap param drift the catalog can detect. */
  def ensureIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                     corpus: => DataFrame, nCentroids: Int, iters: Int = 3,
                     buckets: Int = 8, portableInit: Boolean = false,
                     fingerprint: Option[String] = None,
                     extraCols: Seq[String] = Nil,
                     coFamilies: Seq[String] = Nil): IVFModel =
    synchronized {
      import graft.sources.DerivedTables
      val tables = Seq(s"${name}_centroids", s"${name}_assignments")
      // with a source fingerprint, "exists" additionally means "built
      // from the data currently on disk" — an in-place regeneration of
      // the corpus invalidates the persisted index
      val present = DerivedTables.presentOrExists(spark, tables, fingerprint)
      val existing =
        if (present) Some(loadIvfIndex(spark, name, coFamilies = coFamilies))
        else None
      // single load on the hot path; rebuild only on absence/param
      // drift. The init family AND the posting-metadata columns are
      // part of the NAME contract: callers must use distinct names for
      // portable vs native indices and for filtered (extraCols) vs
      // bare posting schemas — a loaded index missing a requested
      // posting-metadata column fails FAST here (not later as a probe
      // require or a labeled-append write error): silently returning
      // the stale schema is the name-contract violation the check
      // exists to catch, and rebuilding in place would discard any
      // labeled appends landed since the build. The check applies only
      // to an index that would actually be REUSED: one whose nCentroids
      // has drifted is being rebuilt anyway (the self-heal path), and
      // the rebuild lands the requested extraCols — hard-failing there
      // would make combined drift (count + schema) stricter than
      // either drift alone.
      val reusable = existing.filter(_.centroids.length == nCentroids)
      reusable.foreach { m =>
        val missing = extraCols.filterNot(m.assignments.columns.contains)
        require(missing.isEmpty,
          s"persisted IVF index '$name' lacks posting-metadata column(s) " +
            s"${missing.mkString(", ")} — extraCols are part of the name " +
            "contract; use a distinct name for the filtered index (or drop " +
            s"${name}_centroids/${name}_assignments to rebuild)")
      }
      reusable.getOrElse {
        saveIvfIndex(spark,
          ivfIndex(corpus, nCentroids, iters, portableInit, extraCols),
          name, buckets)
        DerivedTables.stampAll(spark, tables, fingerprint)
        loadIvfIndex(spark, name, coFamilies = coFamilies)
      }
    }

  /** Per-ingest IVF maintenance — the d10/d16 append discipline
    * applied to the ANN index: assign NEW vectors to the EXISTING
    * centroids (one broadcast-arithmetic pass over the batch) and
    * append them bucket-aligned to the posting table. No re-train, no
    * corpus re-scan; probes see the new vectors through the same
    * bucketed lists immediately, with identical routing to what a
    * from-scratch assignment under these centroids would produce
    * (spec-locked). Centroids drift from the data distribution over
    * many ingests — re-train on the cadence recall monitoring
    * ([[recallAtK]] via `EdgeRunner --mode recall-check`) dictates,
    * which is the standard IVF operations story; the append
    * keeps daily cost O(batch) instead of O(corpus k-means). `buckets`
    * must match the save-time spec (Spark validates; mismatch throws).
    * IDEMPOTENT under retry: the batch lands in the `ingest_id`
    * partition via dynamic partition overwrite, so a retried maintain
    * with the same id replaces its own postings — a crashed-and-rerun
    * ingest cannot return the same neighbor twice in top-k
    * (append-twice ≡ append-once, spec-locked). Distinct ingests use
    * distinct ids. Callers using a staleness fingerprint re-stamp
    * after appending. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                       newVecs: DataFrame, ingestId: String,
                       buckets: Int = 8, extraCols: Seq[String] = Nil): Unit = {
    // writer: only the centroids are used; ungated by the writer rule.
    // extraCols must match the index's posting schema (a filtered
    // index appends its filter metadata with every batch).
    val model = loadIvfIndex(spark, name, gated = false)
    graft.sources.Bucketing.writeBucketedIngest(spark,
      newVecs.select((Seq("id", "vec") ++ extraCols).map(col): _*)
        .withColumn("cid", nearestCentroid(col("vec"), model.centroids)),
      s"${name}_assignments", Seq("cid"), buckets, ingestId)
  }

  /** Reload a persisted IVF index. The assignments read is COMMIT-
    * VISIBLE by default ([[graft.sources.FamilyCommit.visible]] on the
    * `name` family — opt-in: no `{name}_commits` table means legacy-
    * open): an IVF/ADC append writes its member tables SEQUENTIALLY,
    * so an ungated probe between them sees a half-landed ingest —
    * routing rows without postings (or the reverse), a transient
    * recall dip the monitor could sample and false-trigger a retrain
    * on. The filter is a literal partition IN, so the bucketed scan
    * stays pruned. WRITERS pass `gated = false`: a retrain that read
    * gated would silently DROP an uncommitted ingest's vectors from
    * the rebuilt index — maintenance must converge from the true
    * on-disk state (the RelabelLog principle); only consumers gate. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                   gated: Boolean = true,
                   coFamilies: Seq[String] = Nil): IVFModel = {
    val rows = spark.table(s"${name}_centroids").collect()
    val n = rows.map(_.getInt(0)).max + 1
    val dim = rows.map(_.getInt(1)).max + 1
    val cents = Array.ofDim[Double](n, dim)
    rows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val assigns = spark.table(s"${name}_assignments")
    // `coFamilies` extends the probe gate ACROSS families for composed
    // reads ([[graft.sources.FamilyCommit.visibleAcross]]): a hybrid
    // caller passes the lexical leg's family so an ingest committed
    // here but not yet there stays out of BOTH legs.
    IVFModel(cents,
      if (gated) graft.sources.FamilyCommit.visibleAcross(spark, assigns,
        name +: coFamilies)
      else assigns)
  }

  /** Probe: route each query to its `nProbe` nearest lists, join on the
    * (tiny-cardinality) centroid id, exact-cosine re-rank, top-k. */
  def ivfTopK(queries: DataFrame, model: IVFModel, k: Int, nProbe: Int): DataFrame = {
    val dists = centroidDists(model.centroids, col("vec"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
        VectorOps.norm(col("vec")).as("qn"),
        explode(transform(slice(array_sort(dists), 1, nProbe), s => s.getField("i")))
          .as("cid"))
    val c = model.assignments.select(col("cid"), col("id").as("neighbor_id"),
      col("vec").as("cv"), VectorOps.norm(col("vec")).as("cn"))
    val scored = q.join(c, "cid")
      .withColumn("cos", round(VectorOps.dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")), 6))
      // no distinct() needed: each corpus vector lives under exactly one
      // cid and a query explodes to nProbe DISTINCT cids, so a
      // (query_id, neighbor_id) pair can join at most once — a dedup
      // here would be a full extra shuffle on the hot probe path
      .select("query_id", "neighbor_id", "cos")
    Relational.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cos", "rn")
  }

  /** Scored IVF candidates with their probe DEPTH `r` (the routing
    * rank of the candidate's cell for that query, 1-based) — the
    * nprobe-curve primitive (r18): candidates at `maxProbe` are
    * monotone supersets of every shallower probe, so ONE scored pass
    * answers all depths by filtering `r <= p` (s21's four-probe recall
    * curve previously re-routed and re-scored per depth; the ADC twin
    * [[adcResidualScoredCandidates]] already had this shape). Routing,
    * scoring, and tie rules are [[ivfTopK]]'s exactly. */
  def ivfScoredCandidates(queries: DataFrame, model: IVFModel,
                          maxProbe: Int): DataFrame = {
    val dists = centroidDists(model.centroids, col("vec"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
        VectorOps.norm(col("vec")).as("qn"),
        posexplode(transform(slice(array_sort(dists), 1, maxProbe),
          s => s.getField("i"))).as(Seq("r0", "cid")))
      .withColumn("r", (col("r0") + 1).cast("int")).drop("r0")
    val c = model.assignments.select(col("cid"), col("id").as("neighbor_id"),
      col("vec").as("cv"), VectorOps.norm(col("vec")).as("cn"))
    q.join(c, "cid")
      .withColumn("cos", round(VectorOps.dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")), 6))
      .select("query_id", "neighbor_id", "cos", "r")
  }

  /** Metadata-filtered IVF probe — [[filteredTopK]]'s 100 TB path.
    * The index must have been built with `filterCol` riding the
    * posting list ([[ivfIndex]] `extraCols`); the probe then joins on
    * (cid, filterCol), so the filter is applied INSIDE the posting
    * scan — no second corpus-wide metadata join, no post-filtering of
    * an unfiltered shortlist (which under-fills k whenever the filter
    * is selective). Same routing as [[ivfTopK]]: recall is bounded by
    * the probed cells exactly as in the unfiltered probe, and the
    * recall monitor's verdict applies unchanged. */
  def ivfFilteredTopK(queries: DataFrame, model: IVFModel, k: Int,
                      nProbe: Int, filterCol: String): DataFrame = {
    require(model.assignments.columns.contains(filterCol),
      s"ivfFilteredTopK needs '$filterCol' in the posting list — build " +
        s"the index with extraCols = Seq(\"$filterCol\")")
    val dists = centroidDists(model.centroids, col("vec"))
    val q = queries.select(col("id").as("query_id"), col(filterCol),
        col("vec").as("qv"), VectorOps.norm(col("vec")).as("qn"),
        explode(transform(slice(array_sort(dists), 1, nProbe), s => s.getField("i")))
          .as("cid"))
    val c = model.assignments.select(col("cid"), col(filterCol),
      col("id").as("neighbor_id"), col("vec").as("cv"),
      VectorOps.norm(col("vec")).as("cn"))
    val scored = q.join(c, Seq("cid", filterCol))
      .withColumn("cos", round(VectorOps.dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")), 6))
      .select("query_id", filterCol, "neighbor_id", "cos")
    Relational.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", filterCol, "neighbor_id", "cos", "rn")
  }

  /** ALL-PAIRS SemDeDup report over the coarse-quantizer cells
    * (Abbas et al. 2023 §3: cluster the embedding space, then dedup
    * only WITHIN clusters — the cluster assignment is the blocking
    * structure that keeps pairwise cosine off the full corpus): a
    * vector is DROPPED when a same-cell neighbor with a smaller id
    * scores STRICTLY ABOVE the threshold (> not ≥ — the d06 boundary
    * rule; the d02/d15 keep-min discipline on semantic similarity).
    * Returns one row per cell — including empty ones, the s20
    * every-cell rule — with vector/dropped/kept counts.
    *
    * Companion to [[semanticDedup]] (s07), which is the LINEAR
    * keeper-representative approximation (each member compared to the
    * cell's min-id keeper only — one broadcast join, no within-cell
    * pairs): s07 is the cheap continuous gate, this is the exact
    * within-cell audit run at report cadence.
    *
    * 100 TB shape: the self-join is an equi-join on cid over the
    * BUCKETED assignments (exchange-free on the family layout), and
    * per-cell work is quadratic IN THE CELL — the method's contract is
    * that nCentroids scales with the corpus so cells stay bounded
    * (SemDeDup runs k ≈ 10k-100k at web scale); the cell-occupancy
    * report (s20) is the watchdog for cells outgrowing that bound. */
  def semDedupCellStats(model: IVFModel, threshold: Double): DataFrame = {
    val side = model.assignments.select(col("cid"), col("id"),
      col("vec"), VectorOps.norm(col("vec")).as("nrm"))
    cellCounts(model)
      .join(allPairsDropped(side, threshold), Seq("cid"), "left")
      .select(col("cid").cast("long").as("cid"), col("n_vecs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .withColumn("n_kept", col("n_vecs") - col("n_dropped"))
  }

  /** Per-cell dropped counts under the exact all-pairs rule — the
    * shared core of [[semDedupCellStats]] and the cold leg of
    * [[semDedupCellStatsCapped]]. */
  private def allPairsDropped(side: DataFrame, threshold: Double): DataFrame =
    side.as("a")
      .join(side.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .withColumn("cos", round(VectorOps.dot(col("a.vec"), col("b.vec")) /
        (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos") > threshold)
      .select(col("b.cid").as("cid"), col("b.id").as("id")).distinct()
      .groupBy("cid").agg(count(lit(1)).cast("long").as("n_dropped"))

  /** [[semDedupCellStats]] with the HOT-CELL CAP the s20 watchdog was
    * missing an actuator for: a cell whose occupancy exceeds `maxCell`
    * (routing drift, a duplicate storm, a degenerate centroid) would
    * make the within-cell all-pairs O(s²) — one hot cell holding half
    * the corpus turns the report into a quadratic job. Cells at or
    * under the cap run the EXACT all-pairs rule (bit-identical to the
    * uncapped report — on a balanced corpus the two operators agree on
    * every row); cells above it DEGRADE to the keeper rule
    * ([[semanticDedup]]'s s07 shape): each member scores against the
    * cell's min-id keeper only — O(s) per hot cell, one broadcast join
    * (hot keepers are bounded by nCentroids rows). Deterministic both
    * legs; `capped` marks the rows whose rule degraded so consumers
    * (and the s20 report reader) see WHERE the bound bit. The
    * principled fix for a persistently hot cell is a retrain with
    * larger nCentroids (`--mode retrain`); the cap keeps the report
    * cadence alive until it lands. */
  def semDedupCellStatsCapped(model: IVFModel, threshold: Double,
                              maxCell: Int): DataFrame = {
    require(maxCell >= 2, s"maxCell must be >= 2, got $maxCell")
    val counts = cellCounts(model)
    // bounded by nCentroids rows — broadcast; the corpus-side split is
    // one narrow map-side join, never a shuffle of the assignments
    val hotCids = counts.filter(col("n_vecs") > maxCell)
      .select(col("cid"), lit(true).as("__hot"))
    val side = model.assignments.select(col("cid"), col("id"),
        col("vec"), VectorOps.norm(col("vec")).as("nrm"))
      .join(broadcast(hotCids), Seq("cid"), "left")
    val cold = side.filter(col("__hot").isNull).drop("__hot")
    val hot = side.filter(col("__hot") === true).drop("__hot")
    val keepers = hot.groupBy("cid")
      .agg(min_by(struct(col("id"), col("vec"), col("nrm")), col("id")).as("k"))
      .select(col("cid"), col("k.id").as("keeper_id"),
        col("k.vec").as("kv"), col("k.nrm").as("kn"))
    val hotDropped = hot.join(broadcast(keepers), "cid")
      .filter(col("id") =!= col("keeper_id"))
      .withColumn("cos", round(VectorOps.dot(col("vec"), col("kv")) /
        (col("nrm") * col("kn")), 6))
      .filter(col("cos") > threshold)
      .groupBy("cid").agg(count(lit(1)).cast("long").as("n_dropped"))
    val dropped = allPairsDropped(cold, threshold).unionByName(hotDropped)
    counts
      .join(dropped, Seq("cid"), "left")
      .join(broadcast(hotCids), Seq("cid"), "left")
      .select(col("cid").cast("long").as("cid"), col("n_vecs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("__hot"), lit(false)).as("capped"))
      .withColumn("n_kept", col("n_vecs") - col("n_dropped"))
      .select("cid", "n_vecs", "n_dropped", "n_kept", "capped")
  }

  /** IVF posting-list occupancy report — THE operational metric behind
    * probe cost and recall drift: a probe reads its nProbe cells in
    * full, so one hot cell makes every query routed there pay its
    * size, and a drifting corpus shows up as growing imbalance long
    * before recall@k dips (cheap to watch per-ingest vs the sampled
    * recall check). One row per centroid: vector count and the cell's
    * size rank (ties by cid — deterministic). Integer-only output; the
    * imbalance ratio (max/mean) is a consumer-side division of two
    * reported integers, never a stored float. Cost: one grouped scan
    * of the bucketed assignments — exchange-free on the cid layout. */
  /** Per-cell vector counts with EVERY cell present, including empty
    * ones (n_vecs = 0): an empty cell is a reportable signal (dead
    * routing capacity), and a group-by alone would silently omit it.
    * ONE definition for the s20 and d22 reports — the empty-cell rule
    * and cid typing cannot drift between them. */
  private def cellCounts(model: IVFModel): DataFrame = {
    val spark = model.assignments.sparkSession
    import spark.implicits._
    val cells = (0 until model.centroids.length).toDF("cid")
    val counts = model.assignments.groupBy("cid")
      .agg(count(lit(1)).cast("long").as("n_vecs"))
    cells.join(counts, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
  }

  def ivfCellStats(model: IVFModel): DataFrame =
    cellCounts(model)
      .withColumn("size_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_vecs").desc, col("cid"))).cast("long"))

  /** PROTOTYPICALITY selection over the coarse cells (Sorscher et al.
    * 2022, "Beyond neural scaling laws": rank examples by distance to
    * their cluster centroid and prune by prototypicality — keeping the
    * most prototypical k per cell is the coverage-balanced corpus
    * selection; dropping them prunes easy examples). Per cell: each
    * member's cosine to ITS centroid (6dp), rank (cos desc, id — the
    * deterministic tiebreak), top-`k` kept.
    *
    * 100 TB shape: centroids are nCentroids × dim driver constants —
    * one broadcast join onto the bucketed assignments (exchange-free
    * on the cid layout), then the per-cell top-k window with
    * WindowGroupLimit trimming each partition before the shuffle.
    * Nothing is pairwise; cost is one corpus scan. */
  def prototypeSelect(model: IVFModel, k: Int): DataFrame = {
    val spark = model.assignments.sparkSession
    import spark.implicits._
    val cents = model.centroids.zipWithIndex.map { case (c, i) =>
      (i, c.toSeq, math.sqrt(c.map(x => x * x).sum))
    }.toSeq.toDF("cid", "cv", "cn")
    val scored = model.assignments
      .select(col("cid"), col("id").as("vec_id"), col("vec"),
        VectorOps.norm(col("vec")).as("vn"))
      .join(broadcast(cents), "cid")
      .withColumn("cos_centroid",
        round(VectorOps.dot(col("vec"), col("cv")) / (col("vn") * col("cn")), 6))
      .select("cid", "vec_id", "cos_centroid")
    Relational.topKPerGroup(scored, Seq(col("cid")),
      Seq(col("cos_centroid").desc, col("vec_id")), k)
  }

  /** Embedding-drift SEGMENT monitor (s25) — the corpus-level early
    * warning between s20's index-internal occupancy and the recall
    * check's end metric (which needs query traffic): route two corpus
    * SEGMENTS (old vs new ingest) onto the SAME persisted centroids
    * and report, per cell,
    *   - `n_old` / `n_new` occupancy,
    *   - `occ_shift` = |share_new − share_old| (6dp) — mass moving
    *     between cells,
    *   - `disp` = squared L2 between the segments' per-cell MEAN
    *     vectors (6dp; NULL when a segment is absent from the cell) —
    *     mass moving WITHIN a cell, the drift occupancy can't see,
    *   - `drift_rank` (occ_shift desc, cid — deterministic): the
    *     top-k drifting cells an operator reads first.
    * A rising report schedules `--mode retrain` BEFORE recall dips.
    * Every cell present incl. empty ones (the s20 rule).
    *
    * 100 TB shape: one broadcast nearest-centroid pass per segment
    * (the append-routing discipline — centroids are nCentroids × dim
    * driver constants), one hash aggregation each for counts and
    * per-dim decimal-exact means ([[graft.functions.Exact.davg]] —
    * engine-exact, order-free); the report itself is nCentroids rows.
    * Nothing rescans the index and no segment is ever joined to the
    * other row-wise. */
  def segmentDriftReport(model: IVFModel, oldSeg: DataFrame,
                         newSeg: DataFrame): DataFrame = {
    val spark = model.assignments.sparkSession
    import spark.implicits._
    def cellStats(seg: DataFrame): DataFrame = {
      val assigned = seg.select(col("vec"),
        nearestCentroid(col("vec"), model.centroids).as("cid"))
      val counts = assigned.groupBy("cid").agg(count(lit(1)).as("n"))
      val means = assigned.select(col("cid"), posexplode(col("vec")))
        .groupBy("cid", "pos")
        .agg(graft.functions.Exact.davg(col("col")).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mean"))
      counts.join(means, "cid")
    }
    val o = cellStats(oldSeg).select(col("cid"), col("n").as("n_old"),
      col("mean").as("m_old"))
    val n = cellStats(newSeg).select(col("cid"), col("n").as("n_new"),
      col("mean").as("m_new"))
    val totals = o.agg(sum(col("n_old")).as("__to"))
      .crossJoin(n.agg(sum(col("n_new")).as("__tn")))
    val cells = (0 until model.centroids.length).toDF("cid")
    val diff = zip_with(col("m_old"), col("m_new"), (a, b) => a - b)
    cells
      .join(o, Seq("cid"), "left")
      .join(n, Seq("cid"), "left")
      .crossJoin(broadcast(totals))
      .select(col("cid").cast("long").as("cid"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(abs(coalesce(col("n_new"), lit(0L)).cast("double") / col("__tn")
          - coalesce(col("n_old"), lit(0L)).cast("double") / col("__to")), 6)
          .as("occ_shift"),
        when(col("m_old").isNull || col("m_new").isNull, lit(null))
          .otherwise(round(VectorOps.dot(diff, diff), 6)).as("disp"))
      .withColumn("drift_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("occ_shift").desc, col("cid"))).cast("long"))
  }

  /** SemDeDup-style semantic dedup over an IVF clustering: within each
    * centroid cluster the min-id vector is the KEEPER; every other
    * member is dropped iff its rounded cosine to the keeper exceeds
    * `threshold` (semantically redundant with the representative).
    * Output: one row per corpus vector — (vec_id, cid, cos_keeper,
    * keep) — so the caller can either filter `keep` or audit the drops.
    *
    * Scale shape: keepers are one row per centroid (tiny — broadcast);
    * the corpus joins them on the cid it already carries in the
    * bucketed assignments table, so the only corpus-wide work is one
    * narrow scan + broadcast join. Deterministic: min-id keeper,
    * rounded-cosine threshold. */
  def semanticDedup(model: IVFModel, threshold: Double): DataFrame = {
    val a = model.assignments.select(col("cid"), col("id"), col("vec"),
      VectorOps.norm(col("vec")).as("n"))
    val keepers = a.groupBy("cid")
      .agg(min_by(struct(col("id"), col("vec"), col("n")), col("id")).as("k"))
      .select(col("cid"), col("k.id").as("keeper_id"),
        col("k.vec").as("kv"), col("k.n").as("kn"))
    a.join(broadcast(keepers), "cid")
      .select(col("id").as("vec_id"), col("cid"),
        round(VectorOps.dot(col("vec"), col("kv")) / (col("n") * col("kn")), 6)
          .as("cos_keeper"),
        (col("id") === col("keeper_id") ||
          round(VectorOps.dot(col("vec"), col("kv")) / (col("n") * col("kn")), 6)
            <= threshold).as("keep"))
  }

  /** Contrastive-pair mining for embedding-model training data: for
    * each query vector, its POSITIVE (the exact top-1 neighbor) plus
    * `k` HARD NEGATIVES — the highest-cosine candidates inside the
    * [negLo, negHi) band (similar enough to be informative, below the
    * positive range by construction). Deterministic: exact cosines,
    * rounded 6dp, id tiebreaks. Output: query_id, neighbor_id, cos,
    * role ('pos'|'neg'), rn (1 for pos; 1..k within negs).
    *
    * Scale shape: one broadcast of the query side over a streamed
    * corpus scan (the s01 pattern) feeding BOTH selections — the band
    * filter prunes before the per-query top-k windows, and
    * WindowGroupLimit trims each partition to k before the final
    * shuffle. */
  def contrastivePairs(queries: DataFrame, candidates: DataFrame, k: Int,
                       negLo: Double, negHi: Double): DataFrame = {
    require(negLo < negHi, s"empty negative band [$negLo, $negHi)")
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      VectorOps.norm(col("vec")).as("qn"))
    val c = candidates.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      VectorOps.norm(col("vec")).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", round(VectorOps.dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")), 6))
      .select("query_id", "neighbor_id", "cos")
      // feeds the positive and the negative selections — one corpus pass
      .localCheckpoint(false)
    val pos = Relational.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), 1)
      .withColumn("role", lit("pos"))
    val neg = Relational.topKPerGroup(
        scored.filter(col("cos") >= negLo && col("cos") < negHi),
        Seq(col("query_id")), Seq(col("cos").desc, col("neighbor_id")), k)
      .withColumn("role", lit("neg"))
    pos.unionByName(neg).select("query_id", "neighbor_id", "cos", "role", "rn")
  }

  /** Embedding-cosine near-duplicate pairs, brute force: all (a<b)
    * pairs whose rounded cosine clears `threshold`. Exact by
    * construction — kept as the oracle twin / recall baseline for
    * [[embeddingNearDupPairsLsh]] (asserted equal in SimilaritySpec);
    * the registered d06 query runs the LSH-bucketed form. */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"),
      VectorOps.norm(col("v")).as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      VectorOps.norm(col("v")).as("nb"))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(VectorOps.dot(col("va"), col("vb")) /
        (col("na") * col("nb")), 6))
      .filter(col("cos") > threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: candidate
    * (a<b) pairs come from a self-equi-join on (table, hyperplane
    * signature) — a hash shuffle on the bucket key, never a cartesian
    * product — then exact-cosine re-rank and threshold. Same output
    * columns and threshold semantics as [[embeddingNearDupPairs]].
    *
    * Recall tuning: P(pair missed) = (1 − (1 − θ/π)^bits)^tables. The
    * defaults (4 bits × 48 tables) are sized for thresholds as low as
    * ~0.45 (θ ≈ 63°): miss ≈ 1e-4 per qualifying pair, verified
    * recall=1 against brute force on the test corpora (SimilaritySpec).
    * For genuine near-dup corpora (cos ≥ 0.9 dups), far fewer tables
    * suffice — the low threshold is the expensive regime, and with a
    * threshold inside the bulk of the pair-similarity distribution the
    * OUTPUT itself grows quadratically, which no candidate generation
    * can avoid. Buckets keep the work shuffle-partitioned either way. */
  def embeddingNearDupPairsLsh(embeddings: DataFrame, threshold: Double,
                               dim: Int, tables: Int = 48,
                               bitsPerTable: Int = 4): DataFrame = {
    val all = planes(tables * bitsPerTable, dim)
    val e = embeddings.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("vec"))
    // Vectors and norms RIDE the bucket join here — the opposite of the
    // minhash-pairs layout — because a low threshold puts most pairs in
    // some shared bucket: ids-only candidates would need a huge pair
    // distinct() plus two candidate-sized vector join-backs, while
    // scoring in-bucket costs only the (codegen'd) dot per collision.
    // Measured 3× faster at sf0.1 (7.0 s → 2.3 s) with identical output.
    // Each row also carries its full per-table signature array: a pair
    // colliding in several tables is kept only in the FIRST agreeing
    // table (firstAgreeIndex — a few long compares), so every candidate
    // is dotted exactly once and no output-side distinct() shuffle is
    // needed. At low thresholds an average random pair shares ~3 of the
    // 48 tables and a true near-dup ~26, so this cuts the dot count
    // ~3–26× (measured 5.4 s → 2.0 s at sf0.1).
    // checkpoint AFTER the explode so the materialized size reflects
    // the 48n-row fan-out (checkpointing pre-explode hid it and the
    // planner tried to broadcast a multi-hundred-MB build side); the
    // shuffle_hash hint pins the strategy outright — an equi-join on a
    // high-cardinality bucket key wants a shuffled hash join at any
    // scale, never a broadcast and never a sort.
    val bucketed = e.select(col("id"), col("vec"),
        VectorOps.norm(col("vec")).as("nrm"),
        signatures(col("vec"), all, tables, bitsPerTable).as("sigs"))
      .select(col("id"), col("vec"), col("nrm"), col("sigs"),
        posexplode(col("sigs")).as(Seq("tbl", "sig")))
      .localCheckpoint(false)
    bucketed.select(col("tbl"), col("sig"), col("id").as("vec_a"),
        col("vec").as("va"), col("nrm").as("na"), col("sigs").as("sa"))
      .join(bucketed.select(col("tbl"), col("sig"), col("id").as("vec_b"),
        col("vec").as("vb"), col("nrm").as("nb"), col("sigs").as("sb"))
        .hint("shuffle_hash"),
        Seq("tbl", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(graft.plans.VectorExprs.firstAgreeIndex(col("sa"), col("sb")) === col("tbl"))
      .withColumn("cos", round(VectorOps.dot(col("va"), col("vb")) /
        (col("na") * col("nb")), 6))
      .filter(col("cos") > threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Per-vector int8 scalar quantization — the storage-compression step
    * of a billion-vector ANN index: q = ⌊(x − min)/(max − min)·255⌋
    * clamped to [0,255], plus the per-vector (min, max) dequant params.
    * The divide comes FIRST so x = max hits (mx−mn)/(mx−mn) = 1.0
    * exactly and always quantizes to 255 (the multiply-first order can
    * land at 254 on a double-rounding boundary). All arithmetic is
    * straight-line IEEE double in the same operation order on both
    * engines (floor, never round — round() double-rounds cross-engine),
    * so the output hash-matches the oracle. posexplode + projection
    * only: no shuffle, no UDF, whole-stage codegen. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), array_min(col("v")).as("mn"),
        array_max(col("v")).as("mx"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(floor((col("x") - col("mn")) /
            (col("mx") - col("mn")) * 255.0), lit(255.0)).cast("long")).as("q"),
        col("mn"), col("mx"))
  }

  /** Two-stage SQ8 retrieval — the memory-bandwidth trick of a
    * production vector store: stage 1 scans int8-DEQUANTIZED vectors
    * (4× smaller at rest than float32; here reconstructed as doubles so
    * both engines share one arithmetic) and keeps a `shortlist` per
    * query by approximate dot product; stage 2 re-ranks only the
    * shortlist with the exact cosine. Queries broadcast, corpus streams
    * — stage 1 is one narrow scan, and WindowGroupLimit trims each
    * partition to `shortlist` rows per query before the only shuffle.
    * Dequantization arithmetic is straight-line IEEE double in one op
    * order (floor + least, never round), so shortlist membership and
    * final ranks hash-match the oracle. Exact-rerank columns ride
    * stage 1 (the broadcast is tiny; the join-back alternative costs
    * two extra shuffles of the shortlist). */
  def quantizedRerankTopK(queries: DataFrame, candidates: DataFrame,
                          k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    // mn/mx live in their own projection: referencing them from the
    // transform lambda directly would re-evaluate array_min/array_max
    // per ELEMENT (interpreted HOFs get no CSE)
    def dequant(df: DataFrame) =
      df.select(col("id"), col("vec"), VectorOps.norm(col("vec")).as("nrm"),
          array_min(col("vec")).as("mn"), array_max(col("vec")).as("mx"))
        .select(col("id"), col("vec"), col("nrm"),
          when(col("mx") === col("mn"), col("vec"))
            .otherwise(transform(col("vec"), x =>
              col("mn") + least(floor((x - col("mn")) / (col("mx") - col("mn"))
                * 255.0), lit(255.0)) * (col("mx") - col("mn")) / 255.0))
            .as("dv"))
    val qd = dequant(queries).select(col("id").as("query_id"),
      col("vec").as("qv"), col("nrm").as("qn"), col("dv").as("qdv"))
    val cd = dequant(candidates).select(col("id").as("neighbor_id"),
      col("vec").as("cv"), col("nrm").as("cn"), col("dv").as("cdv"))
    val approx = cd.crossJoin(broadcast(qd))
      .withColumn("approx", round(VectorOps.dot(col("qdv"), col("cdv")), 6))
    val short = Relational.topKPerGroup(approx, Seq(col("query_id")),
      Seq(col("approx").desc, col("neighbor_id")), shortlist, rankCol = "arn")
    val reranked = short.withColumn("cos",
      round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    Relational.topKPerGroup(reranked, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cos", "rn")
  }

  /** Per-label centroid, one row per (label, dimension). Exact decimal
    * mean → identical across engines. posexplode keeps the dimension
    * index; the aggregation is a plain hash groupBy (map-side combined).
    */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    embeddings
      .select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .toDF("label", "pos", "e")
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(round(Exact.davg(col("e")), 6).as("c"))
  }

  /** Product quantization: split each vector into `m` contiguous
    * subspaces and learn an independent `k`-centroid codebook per
    * subspace (portable-init k-means, the s04 machinery applied
    * per-slice); a vector compresses to m small codes — the classic
    * memory-bandwidth trade of billion-scale ANN (SQ8 keeps 1 byte/dim;
    * PQ keeps m codes/VECTOR). Output: (vec_id, subspace, code).
    *
    * 100 TB shape: per subspace, one localCheckpointed slice pass +
    * `iters` broadcast-assign/hash-agg Lloyd rounds; only m × k ×
    * subDim doubles ever reach the driver. */
  def productQuantize(embeddings: DataFrame, m: Int = 4, k: Int = 8,
                      iters: Int = 2, dim: Int = 64): DataFrame =
    productQuantizeModel(embeddings, m, k, iters, dim)._1

  /** [[productQuantize]] plus the learned codebooks:
    * codebooks(s)(c) = subspace s's centroid c (subDim doubles) — the
    * lookup tables ADC retrieval ([[pqRerankTopK]]) scores with. */
  def productQuantizeModel(embeddings: DataFrame, m: Int = 4, k: Int = 8,
                           iters: Int = 2, dim: Int = 64)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    val base = embeddings
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("full"))
      .localCheckpoint(false)
    val parts = (0 until m).map { s =>
      val sliced = base.select(col("id"),
        slice(col("full"), s * subDim + 1, subDim).as("vec"))
      val model = ivfIndex(sliced, k, iters, portableInit = true)
      (model.assignments
        .select(col("id").as("vec_id"), lit(s.toLong).as("subspace"),
          col("cid").cast("long").as("code")),
        model.centroids)
    }
    (parts.map(_._1).reduce(_ unionAll _), parts.map(_._2).toArray)
  }

  /** PQ codebook DISTORTION report — the quantization-health metric
    * next to s20's cell occupancy and s21's recall curve: per
    * (subspace, code), how many vectors the codeword represents and
    * the exact-decimal sum of their 6dp-rounded squared quantization
    * errors. A subspace whose distortion dwarfs the others needs more
    * codes (or its dims re-sliced); a code with high per-vector
    * distortion is a stretched Voronoi cell; a zero-count code is
    * dead capacity. d² = c·c − 2·v·c + v·v (the three dots the
    * assignment argmin already uses — engine-exact), rounded before
    * the decimal sum (the t16 dump-the-sum discipline).
    *
    * Scale shape: one slice pass per subspace over (vec_id, code),
    * codewords as broadcast plan literals (m × k × subDim doubles),
    * one hash aggregation — no joins against the corpus. */
  def pqDistortion(embeddings: DataFrame, codes: DataFrame,
                   books: Array[Array[Array[Double]]],
                   dim: Int = 64): DataFrame = {
    val m = books.length
    val subDim = dim / m
    val base = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val sliced = (0 until m).map { s =>
      base.select(col("vec_id"), lit(s.toLong).as("subspace"),
        slice(col("v"), s * subDim + 1, subDim).as("sv"))
    }.reduce(_ unionAll _)
    // codeword lookup as a plan literal per subspace (m x k x subDim
    // doubles — tiny); the when-chain keeps it one projection
    val cw = (0 until m).foldLeft(lit(null).cast("array<double>")) { (acc, s) =>
      when(col("subspace") === s.toLong,
        element_at(typedlit(books(s).map(_.toSeq).toSeq),
          (col("code") + 1L).cast("int"))).otherwise(acc)
    }
    val agg = sliced.join(codes, Seq("vec_id", "subspace"))
      .withColumn("__cw", cw)
      .select(col("subspace"), col("code"),
        round(VectorOps.dot(col("__cw"), col("__cw"))
          - lit(2.0) * VectorOps.dot(col("sv"), col("__cw"))
          + VectorOps.dot(col("sv"), col("sv")), 6).as("d2"))
      .groupBy("subspace", "code")
      .agg(count(lit(1)).as("n_vecs"),
        graft.functions.Exact.dsum(col("d2")).as("sum_distortion"))
    // EVERY (subspace, code) appears, including dead codes (n_vecs =
    // 0, distortion 0): dead capacity is a reportable signal, and the
    // group-by alone would silently omit it
    val spark = embeddings.sparkSession
    import spark.implicits._
    val grid = (for {
      s <- 0 until m; c <- 0 until books(s).length
    } yield (s.toLong, c.toLong)).toDF("subspace", "code")
    grid.join(agg, Seq("subspace", "code"), "left")
      .select(col("subspace"), col("code"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        coalesce(col("sum_distortion"), lit(0.0)).as("sum_distortion"))
  }

  /** PQ-ADC two-stage retrieval: corpus vectors are scored through
    * their m codes against per-query LOOKUP TABLES (dot of each query
    * slice with each codebook centroid — m × k doubles per query,
    * computed once), the approximate score shortlists `shortlist`
    * candidates per query, and exact cosine re-ranks to top-k — the
    * s06 contract with PQ codes instead of SQ8 bytes. The corpus pass
    * touches only (vec_id, m codes): at 100 TB that is the
    * memory-bandwidth win PQ exists for. Approx scores sum the
    * subspace contributions in subspace order (deterministic), then
    * round 6dp before ranking; id tiebreaks throughout. */
  /** Persist a PQ model (codes + codebooks) as catalog tables — the
    * build-once/probe-many lifecycle [[ensureIvfIndex]] gives IVF,
    * applied to PQ: retrieval re-runs pay only the code-table scan. */
  def savePqModel(spark: org.apache.spark.sql.SparkSession, name: String,
                  codes: DataFrame,
                  books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    codes.write.mode("overwrite").format("parquet").saveAsTable(s"${name}_codes")
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.flatMap { case (c, cid) =>
        c.zipWithIndex.map { case (v, p) => (s, cid, p, v) } }
    }.toSeq.toDF("subspace", "cid", "pos", "v")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_books")
  }

  /** Load-or-build a persisted PQ model; cache key is the NAME (encode
    * the corpus identity in it). Rebuilds on subspace-count drift. */
  def ensurePqModel(spark: org.apache.spark.sql.SparkSession, name: String,
                    corpus: => DataFrame, m: Int = 4, k: Int = 8,
                    iters: Int = 2, dim: Int = 64,
                    fingerprint: Option[String] = None)
      : (DataFrame, Array[Array[Array[Double]]]) = synchronized {
    import graft.sources.DerivedTables
    def load(): (DataFrame, Array[Array[Array[Double]]]) =
      (spark.table(s"${name}_codes"), loadPqBooks(spark, name))
    val tables = Seq(s"${name}_codes", s"${name}_books")
    val present = DerivedTables.presentOrExists(spark, tables, fingerprint)
    val existing = if (present) Some(load()) else None
    existing.filter(_._2.length == m).getOrElse {
      val (codes, books) = productQuantizeModel(corpus, m, k, iters, dim)
      savePqModel(spark, name, codes, books)
      DerivedTables.stampAll(spark, tables, fingerprint)
      load()
    }
  }

  /** Reload a persisted PQ codebook table (written by [[savePqModel]]):
    * books(s)(c) = subspace s's centroid c. */
  def loadPqBooks(spark: org.apache.spark.sql.SparkSession,
                  name: String): Array[Array[Array[Double]]] = {
    val rows = spark.table(s"${name}_books").collect()
    val nS = rows.map(_.getInt(0)).max + 1
    val nC = rows.map(_.getInt(1)).max + 1
    val nP = rows.map(_.getInt(2)).max + 1
    val books = Array.ofDim[Double](nS, nC, nP)
    rows.foreach(r => books(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
    books
  }

  /** The per-query ADC lookup table, flat: entry s·k + c is the dot of
    * the query's s-th slice with codebook centroid c. Computed ONCE per
    * query row (m × k × subDim mults), so the per-candidate ADC score
    * degenerates to m array lookups — the asymmetric-distance trick
    * that makes PQ a memory-bandwidth win instead of a recompute. */
  private def queryLut(qv: Column, books: Array[Array[Array[Double]]],
                       subDim: Int): Column =
    array((for {
      s <- books.indices
      c <- books(s).indices
    } yield VectorOps.dot(slice(qv, s * subDim + 1, subDim),
      typedlit(books(s)(c).toSeq))): _*)

  /** approx dot = Σ_s LUT[s·k + code_s] over the flat per-query table. */
  private def adcScore(books: Array[Array[Array[Double]]]): Column = {
    val k = books(0).length
    books.indices.map(s =>
      element_at(col("lut"), col(s"c$s").cast("int") + lit(s * k) + 1))
      .reduce(_ + _)
  }

  /** Long-form PQ codes pivoted wide: one row per corpus vector,
    * columns (neighbor_id, c0..c{m-1}) — the layout every ADC consumer
    * scores against. ONE definition (adcPostings, pqRerankTopK,
    * retrainPqBooks) so the column naming and pivot-value types cannot
    * drift between them. */
  def codesWide(codes: DataFrame, m: Int): DataFrame =
    codes.groupBy("vec_id")
      .pivot("subspace", (0 until m).map(_.toLong))
      .agg(first(col("code")))
      .toDF("neighbor_id" +: (0 until m).map(s => s"c$s"): _*)

  /** The IVF-ADC posting relation: each corpus vector's cell id next
    * to its wide PQ codes — (cid, neighbor_id, c0..c{m-1}). With
    * `extraCols`, filter metadata from the assignments RIDES the
    * posting row (the s19 filtered-index discipline applied to ADC):
    * a filtered probe then joins on (cid, filter) and the gate applies
    * inside the posting scan, never as a post-filter. */
  def adcPostings(ivf: IVFModel, codes: DataFrame, m: Int,
                  extraCols: Seq[String] = Nil): DataFrame =
    ivf.assignments.select(col("cid") +: col("id").as("vec_id") +:
        extraCols.map(col): _*)
      .join(codesWide(codes, m).withColumnRenamed("neighbor_id", "vec_id"),
        "vec_id")
      .select(col("cid") +: col("vec_id").as("neighbor_id") +:
        (extraCols.map(col) ++ (0 until m).map(s => col(s"c$s"))): _*)

  def pqRerankTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                   shortlist: Int, m: Int = 4, codebookK: Int = 8,
                   iters: Int = 2, dim: Int = 64,
                   model: Option[(DataFrame, Array[Array[Array[Double]]])] = None)
      : DataFrame = {
    val subDim = dim / m
    val (codes, books) = model.getOrElse(productQuantizeModel(
      candidates.select(col("id").as("vec_id"), col("vec").as("embedding")),
      m, codebookK, iters, dim))
    val wide = codesWide(codes, m)
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      VectorOps.norm(col("vec")).as("qn"),
      queryLut(col("vec"), books, subDim).as("lut"))
    val scored = wide.crossJoin(broadcast(q))
      .withColumn("approx", round(adcScore(books), 6))
    val short = Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("approx").desc, col("neighbor_id")), shortlist, rankCol = "arn")
    val c = candidates.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      VectorOps.norm(col("vec")).as("cn"))
    val reranked = short.join(c, "neighbor_id")
      .withColumn("cos",
        round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    Relational.topKPerGroup(reranked, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cos", "rn")
  }

  // --------------------------------------------------------- IVF-ADC

  /** Build-once ADC posting table for IVF-ADC retrieval: each corpus
    * vector's IVF cell id next to its m PQ codes —
    * (cid, neighbor_id, c0..c{m-1}) — persisted bucketed by cell so a
    * probe scans only the probed cells' rows of an already-narrow
    * table. This is THE billion-scale ANN layout (IVFADC, Jégou et
    * al. 2011): the full vectors are touched only for the tiny
    * shortlist fetch, never during candidate scoring. */
  def ensureAdcPostings(spark: org.apache.spark.sql.SparkSession,
                        name: String, ivf: IVFModel, codes: DataFrame,
                        m: Int, buckets: Int = 8,
                        fingerprint: Option[String] = None): DataFrame = synchronized {
    import graft.sources.DerivedTables
    val t = s"${name}_adc"
    if (!DerivedTables.presentOrExists(spark, Seq(t), fingerprint)) {
      // ingest-partitioned from birth: [[appendToAdcPostings]] lands
      // each batch in its own replay-idempotent partition
      graft.sources.Bucketing.writeBucketedIngest(spark,
        adcPostings(ivf, codes, m), t, Seq("cid"), buckets,
        ingestId = "base", overwrite = true)
      DerivedTables.stampAll(spark, Seq(t), fingerprint)
    }
    // probe-path return: commit-visible (legacy-open without a
    // {name}_commits table) — a probe between an append's sequential
    // member writes must not see the half-landed ingest
    graft.sources.FamilyCommit.visible(spark, spark.table(t), name)
  }

  // ------------------------------------------------ recall monitoring

  /** recall@k of an ANN result against the exact answer: the fraction
    * of the exact (query_id, neighbor_id) top-k pairs the ANN result
    * surfaced — computed distributed (one semi join + two counts), so
    * it works on any pair of frames in the [[bruteForceTopK]] output
    * shape ([[ivfTopK]], [[ivfAdcTopK]], [[lshTopK]] all emit it). */
  def recallAtK(ann: DataFrame, exact: DataFrame): Double = {
    val denom = exact.count()
    require(denom > 0, "exact top-k is empty — nothing to measure recall against")
    val hits = exact.select("query_id", "neighbor_id")
      .join(ann.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .count()
    hits.toDouble / denom
  }

  /** The monitor's output: measured recall plus the retrain verdict
    * the append paths defer to. */
  case class RecallReport(recall: Double, nQueries: Long, k: Int,
                          nProbe: Int, minRecall: Double) {
    /** true ⇒ the index has drifted below the floor: re-train the
      * quantizer(s) instead of appending further. */
    def retrain: Boolean = recall < minRecall
  }

  /** Operational recall monitor for a persisted, append-maintained IVF
    * index — the measurement [[appendToIvfIndex]] /
    * [[appendToAdcPostings]] defer their re-train cadence to. Samples
    * `sampleN` corpus vectors deterministically (the smallest
    * xxhash64(id) — planned as a TakeOrdered: per-partition heaps, one
    * corpus scan, never a full sort, unbiased across ingest
    * partitions), runs [[ivfTopK]] against [[bruteForceTopK]] on them,
    * and verdicts the measured recall@k against `minRecall`. Cost is
    * one corpus scan × sampleN broadcast queries for the exact side —
    * the honest price of ground truth, bounded by the sample size and
    * paid only on the monitoring cadence (daily, after the append),
    * not per probe. Queries drawn from the corpus find themselves at
    * rank 1 on BOTH sides, so self-hits cancel out of the comparison
    * rather than inflating it. */
  def ivfRecallCheck(spark: org.apache.spark.sql.SparkSession, name: String,
                     k: Int = 10, nProbe: Int = 2, sampleN: Int = 64,
                     minRecall: Double = 0.9): RecallReport = {
    val model = loadIvfIndex(spark, name)
    val corpus = model.assignments.select(col("id"), col("vec"))
    val queries = corpus
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleN)
      .localCheckpoint(false)
    val exact = bruteForceTopK(queries, corpus, k)
    val ann = ivfTopK(queries, model, k, nProbe)
    RecallReport(recallAtK(ann, exact), queries.count(), k, nProbe, minRecall)
  }

  /** [[ivfRecallCheck]] for the IVF-ADC layout: same deterministic
    * sample and exact baseline, probed through [[ivfAdcTopK]] (coarse
    * route → code-LUT cell scan → exact rerank of `shortlist`), so the
    * verdict reflects BOTH drift sources the append path freezes — the
    * coarse quantizer's routing AND the PQ codebooks' encoding. The
    * exact side fetches full vectors from the IVF assignments table
    * (`ivfName`), the ANN side reads only the `pqName` postings +
    * shortlist vectors — the production cost split. */
  def adcRecallCheck(spark: org.apache.spark.sql.SparkSession,
                     ivfName: String, pqName: String, dim: Int = 64,
                     k: Int = 10, nProbe: Int = 2, shortlist: Int = 32,
                     sampleN: Int = 64, minRecall: Double = 0.9,
                     residual: Boolean = false): RecallReport = {
    // DOUBLE-gated views: an IVF+ADC ingest lands members in TWO
    // families whose markers commit sequentially, so a monitor gating
    // each read by its own family alone would half-see an ingest in
    // the window (or after a crash) between the two commits — sampled
    // queries/baseline including vectors whose postings are invisible
    // (or the reverse), a guaranteed spurious recall collapse and a
    // false RETRAIN. Gating BOTH reads by BOTH families makes an
    // ingest visible to the monitor only once fully committed; each
    // gate is a no-op for a family without a _commits table.
    val model0 = loadIvfIndex(spark, ivfName)
    val model = model0.copy(assignments = graft.sources.FamilyCommit
      .visible(spark, model0.assignments, pqName))
    val corpus = model.assignments.select(col("id"), col("vec"))
    val queries = corpus
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleN)
      .localCheckpoint(false)
    val exact = bruteForceTopK(queries, corpus, k)
    // residual = the pqName postings hold RESIDUAL codes — probe
    // through the decomposition they were encoded under
    val postings = graft.sources.FamilyCommit.visible(spark,
      graft.sources.FamilyCommit.visible(spark,
        spark.table(s"${pqName}_adc"), pqName), ivfName)
    val ann =
      if (residual) ivfAdcResidualTopK(queries, model,
        postings, loadPqBooks(spark, pqName),
        k, nProbe, shortlist, dim)
      else ivfAdcTopK(queries, model, postings,
        loadPqBooks(spark, pqName), k, nProbe, shortlist, dim)
    RecallReport(recallAtK(ann, exact), queries.count(), k, nProbe, minRecall)
  }

  /** The ACT half of the monitor's verdict — [[ivfRecallCheck]] says
    * RETRAIN, this does it: re-run the coarse quantizer's k-means over
    * the vectors the index already holds (old corpus ∪ every appended
    * ingest, read back from the posting table) and overwrite the index
    * in place — the posting table collapses back to one `base`
    * partition with fresh routing. Pass `corpus` to re-train from the
    * source table instead (the 100 TB path: the eager checkpoint of
    * the read-back vectors is executor-memory-bound, while a source
    * re-read streams). Probes see the new routing immediately; PQ
    * codebooks are separate state ([[ensurePqModel]]) and re-train on
    * their own cadence. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                      nCentroids: Int, iters: Int = 3, buckets: Int = 8,
                      portableInit: Boolean = false,
                      corpus: Option[DataFrame] = None): IVFModel = {
    // posting-metadata columns (a FILTERED index's extraCols — label,
    // tenant, lang) are derived from the existing schema and carried
    // through the rebuild: a retrain that read back only (id, vec)
    // would overwrite the assignments WITHOUT the filter column,
    // breaking every ivfFilteredTopK and labeled append until a
    // from-source rebuild. Callers passing `corpus` must supply the
    // same columns (enforced by the select below).
    val metaCols = loadIvfIndex(spark, name, gated = false).assignments
      .columns.toSeq.filterNot(Set("id", "vec", "cid", "ingest_id"))
    // materialized BEFORE the overwrite when reading the index back:
    // saveIvfIndex replaces the very files this frame scans
    val vecs = corpus.map(_.select(("id" +: "vec" +: metaCols).map(col): _*))
      .getOrElse(
        // UNGATED read-back: the retrain rebuilds the store in place, and
        // a gated read would silently DROP any uncommitted ingest's
        // vectors from the rebuilt index — writers converge from the true
        // on-disk state (the fold re-bases everything to `base`, which is
        // visible by construction, effectively committing stragglers)
        loadIvfIndex(spark, name, gated = false).assignments
          .select(("id" +: "vec" +: metaCols).map(col): _*)
          .localCheckpoint(true))
    saveIvfIndex(spark,
      ivfIndex(vecs, nCentroids, iters, portableInit, extraCols = metaCols),
      name, buckets)
    loadIvfIndex(spark, name)
  }

  /** The ACT half for ENCODING drift — [[adcRecallCheck]] monitors two
    * drift sources, the coarse quantizer's routing and the PQ
    * codebooks' encoding; [[retrainIvfIndex]] remedies the first, this
    * remedies the second: re-run the per-subspace portable k-means
    * over the vectors the index holds (read back from the IVF
    * assignments table — routing state is NOT touched) and then
    * RE-ENCODE EVERY posting against the new books, because codes
    * written under the old books are meaningless to the new lookup
    * tables — a codebook swap without a full re-encode would silently
    * mis-score the whole corpus. The `{pq}_codes`/`{pq}_books` tables
    * are overwritten and the `{pq}_adc` posting table collapses back
    * to one `base` partition (each row keeps its EXISTING cell id from
    * the assignments table: routing and encoding retrain on their own
    * cadences, as the monitor separates them). Pass `corpus` to
    * re-train/re-encode from the source table instead (the 100 TB
    * path — cids are then re-derived through the frozen centroids,
    * which is exactly how the append path assigned them). Cost is the
    * honest price of an encoding retrain: m portable-k-means runs over
    * slices plus one corpus re-encode pass — O(corpus), paid on the
    * monitoring cadence, never per probe. */
  def retrainPqBooks(spark: org.apache.spark.sql.SparkSession,
                     ivfName: String, pqName: String, m: Int,
                     codebookK: Int = 8, iters: Int = 2, dim: Int = 64,
                     buckets: Int = 8,
                     corpus: Option[DataFrame] = None,
                     residual: Boolean = false): Array[Array[Array[Double]]] = {
    // ungated (writer): the re-encode below must carry EVERY held
    // vector into the rebuilt posting table, uncommitted ones included
    val model = loadIvfIndex(spark, ivfName, gated = false)
    // held vectors WITH their routing: read back from the assignments
    // table (cids preserved verbatim), or re-routed through the frozen
    // centroids for a caller corpus (identical by construction — the
    // append path assigns the same way)
    val held = corpus
      .map(_.select(col("id"), col("vec"))
        .withColumn("cid", nearestCentroid(col("vec"), model.centroids)))
      .getOrElse(model.assignments.select(col("id"), col("vec"), col("cid")))
    // residual = the pqName model encodes coarse-quantizer residuals
    // ([[residualPqModel]]): train AND re-encode in residual space —
    // mixing the two spaces would make every code meaningless
    val embs =
      if (residual) held.select(col("id").as("vec_id"),
        residualOf(col("vec"), col("cid"), model.centroids).as("embedding"))
      else held.select(col("id").as("vec_id"), col("vec").as("embedding"))
    val (codes, books) = productQuantizeModel(embs, m, codebookK, iters, dim)
    savePqModel(spark, pqName, codes, books)
    // the full re-encode: every held vector's NEW wide codes next to
    // its UNCHANGED cell id, folded to a fresh base partition
    val postings = held.select(col("cid"), col("id").as("vec_id"))
      .join(codesWide(codes, m).withColumnRenamed("neighbor_id", "vec_id"),
        "vec_id")
      .select(col("cid") +: col("vec_id").as("neighbor_id") +:
        (0 until m).map(s => col(s"c$s")): _*)
    graft.sources.Bucketing.writeBucketedIngest(spark, postings,
      s"${pqName}_adc", Seq("cid"), buckets, ingestId = "base",
      overwrite = true)
    books
  }

  /** Per-ingest IVF-ADC maintenance — [[appendToIvfIndex]]'s twin for
    * the billion-scale layout: route the NEW vectors through the
    * EXISTING coarse quantizer (`ivfName`'s centroids), encode each
    * subspace slice against the EXISTING PQ codebooks (`pqName`'s
    * books), and append the resulting (cid, neighbor_id, c0..c{m-1})
    * rows bucket-aligned to the posting table. O(batch) broadcast
    * arithmetic; no k-means re-run, no corpus re-encode; probes see
    * the batch through the same bucketed cells immediately. Quantizer
    * drift is the re-train trigger, as with the IVF append
    * ([[recallAtK]] measures it). IDEMPOTENT under retry: the batch
    * lands in the `ingest_id` partition via dynamic partition
    * overwrite (append-twice ≡ append-once, spec-locked); distinct
    * ingests use distinct ids. */
  def appendToAdcPostings(spark: org.apache.spark.sql.SparkSession,
                          ivfName: String, pqName: String,
                          newVecs: DataFrame, m: Int, ingestId: String,
                          dim: Int = 64,
                          buckets: Int = 8): Unit = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    // writer: only centroids/books are used; ungated by the writer rule
    val ivf = loadIvfIndex(spark, ivfName, gated = false)
    val books = loadPqBooks(spark, pqName)
    val routed = newVecs.select(col("id"), col("vec"))
      .withColumn("cid", nearestCentroid(col("vec"), ivf.centroids))
    val coded = (0 until m).foldLeft(routed) { (df, s) =>
      df.withColumn(s"c$s",
        nearestCentroid(slice(col("vec"), s * subDim + 1, subDim), books(s))
          .cast("long"))
    }
    graft.sources.Bucketing.writeBucketedIngest(spark,
      coded.select(col("cid") +: col("id").as("neighbor_id") +:
        (0 until m).map(s => col(s"c$s")): _*),
      s"${pqName}_adc", Seq("cid"), buckets, ingestId)
  }

  // ------------------------------------------- residual IVF-PQ (IVFADC)

  /** Element-wise residual of a vector against its assigned coarse
    * centroid: r = v − centroid(cid). Exact double subtraction against
    * the broadcast centroid literal — an oracle doing the same
    * subtraction reproduces every residual bit-for-bit. */
  private def residualOf(vec: Column, cid: Column,
                         cents: Array[Array[Double]]): Column =
    zip_with(vec,
      element_at(typedlit(cents.map(_.toSeq).toSeq), cid.cast("int") + 1),
      (a, b) => a - b)

  /** PQ codebooks trained on the coarse-quantizer RESIDUALS — the
    * actual IVFADC of Jégou et al. 2011 §III: after routing, what a
    * cell must distinguish is the displacement AROUND its centroid,
    * not the absolute position, so encoding r = v − c(v) spends the
    * codebooks' capacity on the part that still varies within a cell
    * (the classic recall win over raw-vector PQ at the same code
    * budget). One codebook set shared across cells (the standard
    * memory/quality point); same portable-k-means-per-slice machinery
    * as [[productQuantizeModel]], so an oracle re-derives the books
    * from the residual table with the identical CTE blocks. */
  def residualPqModel(ivf: IVFModel, m: Int = 4, k: Int = 8,
                      iters: Int = 2, dim: Int = 64)
      : (DataFrame, Array[Array[Array[Double]]]) =
    productQuantizeModel(
      ivf.assignments.select(col("id").as("vec_id"),
        residualOf(col("vec"), col("cid"), ivf.centroids).as("embedding")),
      m, k, iters, dim)

  /** Load-or-build a persisted residual-PQ model for `ivf`; cache key
    * is the NAME (use a distinct prefix from the raw-vector PQ model —
    * codes under the two schemes are mutually meaningless). */
  def ensureResidualPqModel(spark: org.apache.spark.sql.SparkSession,
                            name: String, ivf: IVFModel, m: Int = 4,
                            k: Int = 8, iters: Int = 2, dim: Int = 64,
                            fingerprint: Option[String] = None)
      : (DataFrame, Array[Array[Array[Double]]]) = synchronized {
    import graft.sources.DerivedTables
    def load(): (DataFrame, Array[Array[Array[Double]]]) =
      (spark.table(s"${name}_codes"), loadPqBooks(spark, name))
    val tables = Seq(s"${name}_codes", s"${name}_books")
    val present = DerivedTables.presentOrExists(spark, tables, fingerprint)
    val existing = if (present) Some(load()) else None
    existing.filter(_._2.length == m).getOrElse {
      val (codes, books) = residualPqModel(ivf, m, k, iters, dim)
      savePqModel(spark, name, codes, books)
      DerivedTables.stampAll(spark, tables, fingerprint)
      load()
    }
  }

  /** Per-ingest maintenance for the residual layout —
    * [[appendToAdcPostings]] with the residual insertion: route the
    * new vectors through the frozen coarse centroids, SUBTRACT the
    * assigned centroid, encode the residual slices against the frozen
    * residual books, append bucket-aligned under the replay-safe
    * `ingest_id` partition. Still O(batch) broadcast arithmetic. */
  def appendToResidualAdcPostings(spark: org.apache.spark.sql.SparkSession,
                                  ivfName: String, pqName: String,
                                  newVecs: DataFrame, m: Int,
                                  ingestId: String, dim: Int = 64,
                                  buckets: Int = 8): Unit = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    // writer: only centroids/books are used; ungated by the writer rule
    val ivf = loadIvfIndex(spark, ivfName, gated = false)
    val books = loadPqBooks(spark, pqName)
    val routed = newVecs.select(col("id"), col("vec"))
      .withColumn("cid", nearestCentroid(col("vec"), ivf.centroids))
      .withColumn("rv", residualOf(col("vec"), col("cid"), ivf.centroids))
    val coded = (0 until m).foldLeft(routed) { (df, s) =>
      df.withColumn(s"c$s",
        nearestCentroid(slice(col("rv"), s * subDim + 1, subDim), books(s))
          .cast("long"))
    }
    graft.sources.Bucketing.writeBucketedIngest(spark,
      coded.select(col("cid") +: col("id").as("neighbor_id") +:
        (0 until m).map(s => col(s"c$s")): _*),
      s"${pqName}_adc", Seq("cid"), buckets, ingestId)
  }

  /** [[ivfAdcTopK]] over RESIDUAL-encoded postings: the approx score
    * decomposes as q·v̂ = q·centroid(cid) + q·r̂ — one per-(query,
    * probed-cell) dot against the broadcast centroid literal plus the
    * same m LUT lookups per candidate, rounded 6dp together before
    * ranking. Identical cost shape to the raw-code probe (the
    * centroid dot is nProbe scalars per query, not per candidate);
    * the shortlist fetch and exact rerank are unchanged. */
  def ivfAdcResidualTopK(queries: DataFrame, model: IVFModel,
                         postings: DataFrame,
                         books: Array[Array[Array[Double]]], k: Int,
                         nProbe: Int, shortlist: Int,
                         dim: Int = 64): DataFrame = {
    val subDim = dim / books.length
    val dists = centroidDists(model.centroids, col("vec"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
        VectorOps.norm(col("vec")).as("qn"),
        queryLut(col("vec"), books, subDim).as("lut"),
        explode(transform(slice(array_sort(dists), 1, nProbe), s => s.getField("i")))
          .as("cid"))
      // the residual decomposition's cell term: one dot per probed
      // (query, cell) against the broadcast centroid literal
      .withColumn("cd", VectorOps.dot(col("qv"),
        element_at(typedlit(model.centroids.map(_.toSeq).toSeq),
          col("cid").cast("int") + 1)))
    val scored = postings.join(broadcast(q), "cid")
      .withColumn("approx", round(col("cd") + adcScore(books), 6))
    val short = Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("approx").desc, col("neighbor_id")), shortlist, rankCol = "arn")
    val corpus = model.assignments.select(col("id").as("neighbor_id"),
      col("vec").as("cv"), VectorOps.norm(col("vec")).as("cn"))
    val rr = broadcast(short.select("query_id", "neighbor_id", "qv", "qn"))
      .join(corpus, "neighbor_id")
      .withColumn("cos",
        round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    Relational.topKPerGroup(rr, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cos", "rn")
  }

  /** The scored candidate table behind the ADC TUNING GRID (s23):
    * every candidate a `maxProbe`-deep residual-ADC probe would touch,
    * with its cell rank `r`, rounded approx score, and exact rerank
    * cosine — computed ONCE, so the (nProbe, shortlist) grid slices it
    * with rank filters instead of running one full probe per cell
    * (12 probes → 1 candidate generation; the probe-depth-p candidate
    * sets are monotone prefixes of this one by construction, so each
    * slice is EXACTLY [[ivfAdcResidualTopK]]'s ranking at (p, sl) —
    * spec-locked). Unlike the retrieval path, the rerank cosine joins
    * the FULL candidate set (not a shortlist) against the vector
    * table; that is the tuning report's deliberate tradeoff and is
    * bounded because tuning runs on a SAMPLED query set by contract —
    * candidates ≈ queries × (maxProbe / nCells) × corpus. */
  def adcResidualScoredCandidates(queries: DataFrame, model: IVFModel,
                                  postings: DataFrame,
                                  books: Array[Array[Array[Double]]],
                                  maxProbe: Int, dim: Int = 64): DataFrame = {
    val subDim = dim / books.length
    val dists = centroidDists(model.centroids, col("vec"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
        VectorOps.norm(col("vec")).as("qn"),
        queryLut(col("vec"), books, subDim).as("lut"),
        posexplode(transform(slice(array_sort(dists), 1, maxProbe),
          s => s.getField("i"))))
      .withColumnRenamed("col", "cid")
      .withColumn("r", col("pos") + 1).drop("pos")
      .withColumn("cd", VectorOps.dot(col("qv"),
        element_at(typedlit(model.centroids.map(_.toSeq).toSeq),
          col("cid").cast("int") + 1)))
    val scored = postings.join(broadcast(q), "cid")
      .withColumn("approx", round(col("cd") + adcScore(books), 6))
    val corpus = model.assignments.select(col("id").as("neighbor_id"),
      col("vec").as("cv"), VectorOps.norm(col("vec")).as("cn"))
    broadcast(scored.select("query_id", "neighbor_id", "r", "approx",
        "qv", "qn"))
      .join(corpus, "neighbor_id")
      .withColumn("cos",
        round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .select("query_id", "neighbor_id", "r", "approx", "cos")
  }

  /** IVF-ADC two-stage retrieval: queries route to their `nProbe`
    * nearest IVF cells (coarse quantizer), candidates inside those
    * cells are scored through the per-query ADC lookup table (m array
    * lookups per candidate — no vector math on the corpus side), the
    * rounded approx score shortlists `shortlist` per query, and exact
    * cosine re-ranks the fetched shortlist vectors to top-k.
    *
    * 100 TB shape: the scoring pass reads ONLY the probed buckets of
    * the narrow posting table (cell id + m byte-sized codes per
    * vector); the full-vector table is joined only against the
    * shortlist (queries × shortlist rows). Deterministic end-to-end:
    * portable k-means on both quantizers, 6dp rounds, id tiebreaks. */
  def ivfAdcTopK(queries: DataFrame, model: IVFModel, postings: DataFrame,
                 books: Array[Array[Array[Double]]], k: Int, nProbe: Int,
                 shortlist: Int, dim: Int = 64): DataFrame = {
    val subDim = dim / books.length
    val dists = centroidDists(model.centroids, col("vec"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      VectorOps.norm(col("vec")).as("qn"),
      queryLut(col("vec"), books, subDim).as("lut"),
      explode(transform(slice(array_sort(dists), 1, nProbe), s => s.getField("i")))
        .as("cid"))
    // each corpus vector lives under exactly one cid and the probed
    // cids are distinct per query, so no pair can score twice (the
    // ivfTopK no-distinct argument, unchanged by ADC scoring)
    val scored = postings.join(broadcast(q), "cid")
      .withColumn("approx", round(adcScore(books), 6))
    val short = Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("approx").desc, col("neighbor_id")), shortlist, rankCol = "arn")
    val corpus = model.assignments.select(col("id").as("neighbor_id"),
      col("vec").as("cv"), VectorOps.norm(col("vec")).as("cn"))
    // queries × shortlist rows — always the broadcast side; the full
    // vector table streams and is touched only here
    val rr = broadcast(short.select("query_id", "neighbor_id", "qv", "qn"))
      .join(corpus, "neighbor_id")
      .withColumn("cos",
        round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    Relational.topKPerGroup(rr, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "cos", "rn")
  }

  /** Metadata-FILTERED IVF-ADC retrieval — [[ivfFilteredTopK]]'s
    * discipline applied to the compressed-posting path, the production
    * filtered-vector-search shape at 100 TB: the filter column RIDES
    * the ADC posting row ([[adcPostings]] `extraCols`), so the probe
    * joins postings on (cid, filterCol) and the gate applies INSIDE
    * the narrow posting scan — never as a post-filter of an unfiltered
    * shortlist (which under-fills k whenever the filter is selective)
    * and never as a second corpus-wide metadata join. Scoring and
    * rerank are exactly [[ivfAdcTopK]]'s: per-query LUT, m array
    * lookups per FILTERED candidate, approx shortlist, exact-cosine
    * rerank over the fetched shortlist vectors only. */
  def ivfAdcFilteredTopK(queries: DataFrame, model: IVFModel,
                         postings: DataFrame,
                         books: Array[Array[Array[Double]]], k: Int,
                         nProbe: Int, shortlist: Int, filterCol: String,
                         dim: Int = 64): DataFrame = {
    require(postings.columns.contains(filterCol),
      s"ivfAdcFilteredTopK needs '$filterCol' riding the ADC postings — " +
        s"build them with adcPostings(extraCols = Seq(\"$filterCol\"))")
    val subDim = dim / books.length
    val dists = centroidDists(model.centroids, col("vec"))
    val q = queries.select(col("id").as("query_id"), col(filterCol),
      col("vec").as("qv"), VectorOps.norm(col("vec")).as("qn"),
      queryLut(col("vec"), books, subDim).as("lut"),
      explode(transform(slice(array_sort(dists), 1, nProbe), s => s.getField("i")))
        .as("cid"))
    val scored = postings.join(broadcast(q), Seq("cid", filterCol))
      .withColumn("approx", round(adcScore(books), 6))
    val short = Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("approx").desc, col("neighbor_id")), shortlist, rankCol = "arn")
    val corpus = model.assignments.select(col("id").as("neighbor_id"),
      col("vec").as("cv"), VectorOps.norm(col("vec")).as("cn"))
    val rr = broadcast(short.select("query_id", filterCol, "neighbor_id",
        "qv", "qn"))
      .join(corpus, "neighbor_id")
      .withColumn("cos",
        round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    Relational.topKPerGroup(rr, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select("query_id", filterCol, "neighbor_id", "cos", "rn")
  }

  /** Dense random projection (Johnson–Lindenstrauss) of the embedding
    * column to `outDim` dimensions — the standard dimensionality-
    * reduction front-end for clustering / dedup over very wide
    * embeddings. The projection matrix is the engine-portable
    * md5-derived plane family (salt "rp:" — disjoint from the s03 ANN
    * planes), so an oracle re-derives it bit-for-bit; the whole
    * outDim × dim product is ONE fused codegen'd loop per row
    * (plans.MatVecProject). Values are scaled by √(3/outDim) (the
    * norm-preserving factor for U[-1,1) planes) and rounded 6dp AFTER
    * scaling; output is
    * long-form (vec_id, pos, proj) like s02/s05.
    *
    * 100 TB shape: embarrassingly parallel — a narrow per-row map, no
    * shuffle, no driver state beyond the outDim × dim constant matrix
    * shipped in the codegen references array. */
  def randomProjection(embeddings: DataFrame, outDim: Int = 16,
                       dim: Int = 64): DataFrame = {
    val mat = portablePlanes(outDim, dim, salt = "rp:")
    // U[-1,1) entries have variance 1/3, so √(3/outDim) (not the
    // Gaussian 1/√outDim) makes E‖Pv‖² = ‖v‖² — an isometry in
    // expectation (measured: distance ratios center on 1.0, see spec)
    val scale = math.sqrt(3.0 / outDim.toDouble)
    embeddings
      .select(col("vec_id"),
        graft.plans.VectorExprs.matVecProject(
          col("embedding").cast("array<double>"), mat).as("__p"))
      .select(col("vec_id"), posexplode(col("__p")))
      .toDF("vec_id", "pos", "p")
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        round(col("p") * scale, 6).as("proj"))
  }

  /** Exact k-NN majority-vote classification: each query vector takes
    * the label most frequent among its k nearest corpus vectors by
    * cosine. `queries`/`candidates`: (id, vec); candidates also carry
    * `label`. Both ranking stages are deterministic — neighbors rank on
    * (rounded cos desc, id), the vote on (votes desc, label) — so the
    * prediction is reproducible across engines.
    *
    * The label rides THROUGH the scoring scan instead of being joined
    * back onto the top-k afterward: a post-hoc label join would shuffle
    * the corpus a second time, while carrying the column costs one
    * int per streamed row. 100 TB shape: queries broadcast, corpus
    * streamed once (s01's plan), then the vote runs on k·|queries|
    * rows — tiny regardless of corpus size. */
  def knnClassify(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      VectorOps.norm(col("vec")).as("qn"))
    val c = candidates.select(col("id").as("neighbor_id"), col("label"),
      col("vec").as("cv"), VectorOps.norm(col("vec")).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", round(VectorOps.dot(col("qv"), col("cv")) /
        (col("qn") * col("cn")), 6))
    val topk = Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("neighbor_id")), k)
    val votes = topk.groupBy("query_id", "label")
      .agg(count(lit(1)).as("votes"))
    Relational.topKPerGroup(votes, Seq(col("query_id")),
        Seq(col("votes").desc, col("label")), 1, rankCol = "__rv")
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
  }

  /** ANN k-NN classification: neighbors come from the IVF probe
    * ([[ivfTopK]] — nProbe cells per query against the bucketed
    * posting table) instead of the exact corpus scan, then the same
    * deterministic majority vote as [[knnClassify]]. This is the
    * production form at corpus scale: exact kNN classification is
    * inherently QUADRATIC when the query set grows with the corpus
    * (both sides 100× → 10,000× scored pairs — measured, see
    * TESTDATA.md), while the probe scores nProbe/nCentroids of the
    * corpus per query. `labels` (id, label) joins onto the k·|queries|
    * top-k rows — the corpus' vectors are never re-shuffled, only its
    * narrow label table. With nProbe = nCentroids every cell is probed
    * and the prediction equals the exact form bit-for-bit
    * (spec-locked); recall at small nProbe is measured in the spec. */
  def knnClassifyIvf(queries: DataFrame, model: IVFModel, labels: DataFrame,
                     k: Int, nProbe: Int): DataFrame = {
    val topk = ivfTopK(queries, model, k, nProbe)
      .join(labels.select(col("id").as("neighbor_id"), col("label")),
        "neighbor_id")
    val votes = topk.groupBy("query_id", "label")
      .agg(count(lit(1)).as("votes"))
    Relational.topKPerGroup(votes, Seq(col("query_id")),
        Seq(col("votes").desc, col("label")), 1, rankCol = "__rv")
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
  }

  /** MMR (maximal marginal relevance) diversity re-rank: from each
    * query's cosine top-`shortlist`, greedily pick `k` results that
    * balance relevance against redundancy —
    * score(c) = λ·rel(c) − (1−λ)·max sim(c, selected) — the standard
    * retrieval-diversification step before results feed a consumer
    * that wastes budget on near-identical hits.
    *
    * 100 TB shape: the expensive part is the shortlist (any retriever:
    * brute/IVF/ADC); MMR itself touches only shortlist² pairwise sims
    * PER QUERY (bounded: 20² here), computed relationally and then
    * resolved by a per-query greedy over collected ≤shortlist-row
    * groups — no driver loop, no cross-query state. Determinism for
    * the oracle: rel and sim are 6dp-rounded cosines, the greedy
    * combination is plain IEEE `λ·rel − (1−λ)·maxsim` spelled
    * identically in the chained-QUALIFY oracle, ids break ties.
    *
    * This overload runs the exact brute-force shortlist (the oracle
    * twin); [[mmrRerankShortlist]] accepts ANY retriever's shortlist
    * frame — at scale the re-rank composes with the ANN stack
    * (ivfTopK/adcRerankTopK) instead of forcing a corpus scan. */
  def mmrRerank(queries: DataFrame, candidates: DataFrame, shortlist: Int,
                k: Int, lambda: Double = 0.7): DataFrame =
    mmrRerankShortlist(bruteForceTopK(queries, candidates, shortlist),
      candidates, k, lambda)

  /** [[mmrRerank]] over a caller-supplied shortlist — (query_id,
    * neighbor_id, cos) from any retriever (brute/IVF/ADC top-k all
    * emit this shape). `candidates` supplies the vectors for the
    * pairwise-diversity sims; shortlist rows whose neighbor_id is
    * missing from it are dropped by the vector join. */
  def mmrRerankShortlist(shortlist: DataFrame, candidates: DataFrame,
                         k: Int, lambda: Double = 0.7): DataFrame = {
    val spark = shortlist.sparkSession
    import spark.implicits._
    val sl = shortlist
      .select(col("query_id"), col("neighbor_id"), col("cos").as("rel"))
    val cv = candidates.select(col("id").as("neighbor_id"),
      col("vec").as("cv"), VectorOps.norm(col("vec")).as("cn"))
    val withVec = sl.join(cv, "neighbor_id")
    val a = withVec.select(col("query_id"), col("neighbor_id").as("a"),
      col("cv").as("av"), col("cn").as("an"))
    val b = withVec.select(col("query_id"), col("neighbor_id").as("b"),
      col("cv").as("bv"), col("cn").as("bn"))
    val sims = a.join(b, Seq("query_id")).filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(VectorOps.dot(col("av"), col("bv")) /
          (col("an") * col("bn")), 6).as("sim"))
    val grouped = sl.groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id"), col("rel"))).as("rels"))
      .join(sims.groupBy("query_id")
        .agg(collect_list(struct(col("a"), col("b"), col("sim"))).as("sims")),
        Seq("query_id"), "left")
    val picked = grouped.flatMap { r =>
      val qid = r.getLong(0)
      val rels = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val sim = Option(r.getSeq[org.apache.spark.sql.Row](2))
        .getOrElse(Seq.empty)
        .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
      var selected = Vector.empty[Long]
      var remaining = rels.keySet
      val out = Seq.newBuilder[(Long, Long, Long, Double)]
      var step = 1
      var stuck = false
      while (step <= k && remaining.nonEmpty && !stuck) {
        var bestId = 0L
        var found = false
        var bestScore = Double.NegativeInfinity
        // ascending-id iteration makes "first max wins" the smallest-id
        // tiebreak the oracle's (score DESC, id) ordering uses
        remaining.toSeq.sorted.foreach { c =>
          val maxSim =
            if (selected.isEmpty) 0.0
            else selected.map(s => sim((c, s))).max
          val score = lambda * rels(c) - (1.0 - lambda) * maxSim
          if (score > bestScore) { bestScore = score; bestId = c; found = true }
        }
        // a zero-norm vector makes every remaining score NaN (NaN
        // never compares > -Inf): no candidate is ever picked, and
        // emitting a phantom would poison the next step's sim lookup —
        // stop the greedy instead. The stall flag is a separate
        // boolean, NOT an id sentinel: negative neighbor ids are legal
        if (!found) stuck = true
        else {
          out += ((qid, step.toLong, bestId, bestScore))
          selected :+= bestId
          remaining -= bestId
          step += 1
        }
      }
      out.result()
    }.toDF("query_id", "mmr_rank", "neighbor_id", "score")
    // the score stays UNROUNDED: every input (6dp rel/sim) and every
    // arithmetic step is bit-identical cross-engine, so the raw double
    // compares exactly — while round()ing it would hit the q48 class
    // (0.7 x a 6dp value lands EXACT halves at 6dp, where Spark's
    // shortest-string HALF_UP and DuckDB's exact-binary round diverge)
    picked
  }
}
