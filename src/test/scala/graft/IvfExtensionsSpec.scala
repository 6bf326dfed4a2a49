package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.plans.GraftExtensions

class IvfExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ivfTopK achieves high recall vs brute force on clustered data") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian() * 2))
    val cands = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 40).map { i =>
        (ci * 100 + i + 100).toLong -> c.map(x => x + rnd.nextGaussian() * 0.1).toSeq
      }
    }.toSeq.toDF("id", "vec")
    val qs = centers.zipWithIndex
      .map { case (c, i) => i.toLong -> c.toSeq }.toSeq.toDF("id", "vec")
    val brute = Similarity.bruteForceTopK(qs, cands, 5)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val model = Similarity.ivfIndex(cands, nCentroids = 8, iters = 3)
    val ivf = Similarity.ivfTopK(qs, model, k = 5, nProbe = 3)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("ivfIndex assigns every vector to a valid centroid") {
    val cands = Seq.tabulate(50)(i => (i.toLong, Seq.fill(8)(i * 0.1))).toDF("id", "vec")
    val model = Similarity.ivfIndex(cands, nCentroids = 4, iters = 2)
    assert(model.centroids.length == 4)
    val cids = model.assignments.select("cid").distinct().as[Int].collect()
    assert(cids.forall(c => c >= 0 && c < 4))
    assert(model.assignments.count() == 50)
  }

  test("persisted IVF index probes identically to the in-memory model") {
    val rnd = new scala.util.Random(3)
    val cands = Seq.tabulate(60)(i =>
      (i.toLong + 100, Seq.fill(8)(rnd.nextGaussian()))).toDF("id", "vec")
    val qs = Seq.tabulate(3)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian()))).toDF("id", "vec")
    val model = Similarity.ivfIndex(cands, nCentroids = 4, iters = 2)
    spark.sql("DROP TABLE IF EXISTS ivf_t_centroids")
    spark.sql("DROP TABLE IF EXISTS ivf_t_assignments")
    Similarity.saveIvfIndex(spark, model, "ivf_t")
    val loaded = Similarity.loadIvfIndex(spark, "ivf_t")
    assert(loaded.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq)
    val direct = Similarity.ivfTopK(qs, model, 3, 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    val viaTable = Similarity.ivfTopK(qs, loaded, 3, 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(direct == viaTable)
  }

  test("appendToIvfIndex routes new vectors exactly like a fixed-centroid reassignment") {
    val rnd = new scala.util.Random(17)
    def vecs(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian()))).toSeq.toDF("id", "vec")
    val old = vecs(100 until 160)
    val delta = vecs(200 until 230)
    for (t <- Seq("ivf_app_centroids", "ivf_app_assignments"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val model = Similarity.ivfIndex(old, nCentroids = 4, iters = 2)
    Similarity.saveIvfIndex(spark, model, "ivf_app")
    Similarity.appendToIvfIndex(spark, "ivf_app", delta, ingestId = "i1")
    val maintained = Similarity.loadIvfIndex(spark, "ivf_app")
    // centroids untouched by the append
    assert(maintained.centroids.map(_.toSeq).toSeq ==
      model.centroids.map(_.toSeq).toSeq)
    // assignments = old ∪ (delta routed under the ORIGINAL centroids):
    // every delta id present exactly once, with cid = the argmin of
    // the same L2 surrogate the index uses — byte-for-byte what a
    // from-scratch assignment with these fixed centroids produces
    val got = maintained.assignments.select("id", "cid")
      .as[(Long, Int)].collect().toSet
    val cents = model.centroids
    val deltaRows = delta.as[(Long, Seq[Double])].collect().toMap
    val gotDelta = got.filter(_._1 >= 200L)
    assert(gotDelta.map(_._1) == deltaRows.keySet)
    gotDelta.foreach { case (id, cid) =>
      val v = deltaRows(id)
      val dists = cents.map(c =>
        c.map(x => x * x).sum - 2.0 * c.zip(v).map { case (a, b) => a * b }.sum)
      assert(dists(cid) == dists.min, s"delta $id routed to $cid, not argmin")
    }
    // old assignments untouched
    assert(got.filter(_._1 < 200L) ==
      model.assignments.select("id", "cid").as[(Long, Int)].collect().toSet)
  }

  test("appendToAdcPostings encodes new vectors with the existing quantizers") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(29)
    val dim = 8; val m = 2; val subDim = dim / m
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))).toSeq.toDF("id", "vec")
    val old = vecs(100 until 150)
    val delta = vecs(200 until 220)
    for (t <- Seq("adc_app_centroids", "adc_app_assignments",
        "adc_app_pq_codes", "adc_app_pq_books", "adc_app_pq_adc"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val ivf = Similarity.ivfIndex(old, nCentroids = 4, iters = 2)
    Similarity.saveIvfIndex(spark, ivf, "adc_app")
    val (codes, books) = Similarity.productQuantizeModel(
      old.select(col("id").as("vec_id"), col("vec").as("embedding")),
      m = m, k = 4, iters = 2, dim = dim)
    Similarity.savePqModel(spark, "adc_app_pq", codes, books)
    Similarity.ensureAdcPostings(spark, "adc_app_pq", ivf, codes, m = m)
    val before = spark.table("adc_app_pq_adc").collect().map(_.toSeq).toSet
    Similarity.appendToAdcPostings(spark, "adc_app", "adc_app_pq",
      delta, m = m, ingestId = "i1", dim = dim)
    val after = spark.table("adc_app_pq_adc").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    // old postings untouched
    assert(after.filter(_._2 < 200L).map(x => Seq(x._1, x._2, x._3, x._4))
      .map(_.toSeq).toSet.size == before.size)
    // every delta row routed/encoded exactly as the fixed quantizers say
    def argmin(v: Seq[Double], cents: Array[Array[Double]]): Int =
      cents.map(c => c.map(x => x * x).sum -
        2.0 * c.zip(v).map { case (a, b) => a * b }.sum).zipWithIndex.min._2
    val deltaRows = delta.as[(Long, Seq[Double])].collect().toMap
    val gotDelta = after.filter(_._2 >= 200L)
    assert(gotDelta.map(_._2).toSet == deltaRows.keySet)
    gotDelta.foreach { case (cid, id, c0, c1) =>
      val v = deltaRows(id)
      assert(cid == argmin(v, ivf.centroids), s"coarse routing off for $id")
      assert(c0 == argmin(v.slice(0, subDim), books(0)), s"c0 off for $id")
      assert(c1 == argmin(v.slice(subDim, dim), books(1)), s"c1 off for $id")
    }
  }

  test("residual IVFADC: books train on residuals, append encodes residual slices, replay-safe") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(31)
    val dim = 8; val m = 2; val subDim = dim / m
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))).toSeq.toDF("id", "vec")
    val old = vecs(100 until 150)
    val delta = vecs(200 until 220)
    val tables = Seq("radc_centroids", "radc_assignments",
      "radc_pq_codes", "radc_pq_books", "radc_pq_adc")
    try {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val ivf = Similarity.ivfIndex(old, nCentroids = 4, iters = 2)
      Similarity.saveIvfIndex(spark, ivf, "radc")
      val (codes, books) = Similarity.residualPqModel(ivf, m = m, k = 4,
        iters = 2, dim = dim)
      def argmin(v: Seq[Double], cents: Array[Array[Double]]): Int =
        cents.map(c => c.map(x => x * x).sum -
          2.0 * c.zip(v).map { case (a, b) => a * b }.sum).zipWithIndex.min._2
      // the codes are the argmin of the RESIDUAL slices (not the raw
      // vector's) against the learned books — the defining property
      val oldRows = old.as[(Long, Seq[Double])].collect().toMap
      val assigned = ivf.assignments.select("id", "cid")
        .as[(Long, Int)].collect().toMap
      val codeRows = codes.select("vec_id", "subspace", "code")
        .as[(Long, Long, Long)].collect()
      assert(codeRows.length == oldRows.size * m)
      codeRows.foreach { case (id, s, code) =>
        val r = oldRows(id).zip(ivf.centroids(assigned(id)))
          .map { case (a, b) => a - b }
        assert(code == argmin(r.slice(s.toInt * subDim, (s.toInt + 1) * subDim),
          books(s.toInt)), s"residual code off for $id subspace $s")
      }
      Similarity.savePqModel(spark, "radc_pq", codes, books)
      Similarity.ensureAdcPostings(spark, "radc_pq", ivf, codes, m = m)
      Similarity.appendToResidualAdcPostings(spark, "radc", "radc_pq",
        delta, m = m, ingestId = "i1", dim = dim)
      val after = spark.table("radc_pq_adc").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
      val deltaRows = delta.as[(Long, Seq[Double])].collect().toMap
      val gotDelta = after.filter(_._2 >= 200L)
      assert(gotDelta.map(_._2).toSet == deltaRows.keySet)
      gotDelta.foreach { case (cid, id, c0, c1) =>
        val v = deltaRows(id)
        assert(cid == argmin(v, ivf.centroids), s"coarse routing off for $id")
        val r = v.zip(ivf.centroids(cid)).map { case (a, b) => a - b }
        assert(c0 == argmin(r.slice(0, subDim), books(0)), s"c0 off for $id")
        assert(c1 == argmin(r.slice(subDim, dim), books(1)), s"c1 off for $id")
      }
      // replay-safe like every maintenance append
      Similarity.appendToResidualAdcPostings(spark, "radc", "radc_pq",
        delta, m = m, ingestId = "i1", dim = dim)
      assert(spark.table("radc_pq_adc").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toList.sorted == after.sorted,
        "replayed residual append must replace its partition")
      // the probe with an everything-covering shortlist reproduces
      // brute force exactly (the rerank contract, residual flavor)
      val model2 = Similarity.loadIvfIndex(spark, "radc")
      val queries = vecs(200 until 204)
      val ann = Similarity.ivfAdcResidualTopK(queries, model2,
          spark.table("radc_pq_adc"), books, k = 3, nProbe = 4,
          shortlist = 70, dim = dim)
        .select("query_id", "neighbor_id", "cos", "rn")
        .as[(Long, Long, Double, Long)].collect().toSet
      val exact = Similarity.bruteForceTopK(queries,
          model2.assignments.select("id", "vec"), k = 3)
        .select("query_id", "neighbor_id", "cos", "rn")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(ann == exact,
        "full-probe full-shortlist residual ADC must equal brute force")
      // the monitor probes through the residual decomposition the
      // postings were encoded under...
      val rep = Similarity.adcRecallCheck(spark, "radc", "radc_pq",
        dim = dim, k = 3, nProbe = 4, shortlist = 70, sampleN = 100,
        minRecall = 0.9, residual = true)
      assert(rep.recall == 1.0 && !rep.retrain,
        s"residual monitor on a healthy full-probe stack: ${rep.recall}")
      // ...and the encoding retrain stays in residual space end to
      // end: re-learned books + full residual re-encode, recall intact
      Similarity.retrainPqBooks(spark, "radc", "radc_pq", m = m,
        codebookK = 4, iters = 2, dim = dim, residual = true)
      val rep2 = Similarity.adcRecallCheck(spark, "radc", "radc_pq",
        dim = dim, k = 3, nProbe = 4, shortlist = 70, sampleN = 100,
        minRecall = 0.9, residual = true)
      assert(rep2.recall == 1.0 && !rep2.retrain,
        s"residual retrain must preserve recall: ${rep2.recall}")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ensureIvfIndex builds once, then reuses the persisted index") {
    val rnd = new scala.util.Random(7)
    val cands = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian()))).toDF("id", "vec")
    spark.sql("DROP TABLE IF EXISTS ivf_e_centroids")
    spark.sql("DROP TABLE IF EXISTS ivf_e_assignments")
    val built = Similarity.ensureIvfIndex(spark, "ivf_e", cands, nCentroids = 4, iters = 2)
    // corpus is by-name: a second call must not evaluate it at all
    val reused = Similarity.ensureIvfIndex(spark, "ivf_e",
      sys.error("index rebuilt despite existing catalog tables"),
      nCentroids = 4, iters = 2)
    assert(built.centroids.map(_.toSeq).toSeq == reused.centroids.map(_.toSeq).toSeq)
    assert(reused.assignments.count() == 40)
    // extraCols are part of the NAME contract: reusing the bare
    // index's name for a filtered (posting-metadata) schema must fail
    // FAST here, not later as a probe require or an append write error
    // — and must NOT silently return the stale metadata-less schema
    val e = intercept[IllegalArgumentException] {
      Similarity.ensureIvfIndex(spark, "ivf_e",
        sys.error("must fail before evaluating the corpus"),
        nCentroids = 4, iters = 2, extraCols = Seq("lang"))
    }
    assert(e.getMessage.contains("lang") &&
      e.getMessage.contains("name contract"), e.getMessage)
    // COMBINED drift (nCentroids changed AND extraCols missing) must
    // take the SELF-HEAL path, not the fail-fast: the index is being
    // rebuilt anyway, and the rebuild lands the requested posting
    // columns — hard-failing would make combined drift stricter than
    // either drift alone. (The fail-fast applies only to an index that
    // would actually be REUSED.)
    val cands2 = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian()),
        if (i % 2 == 0) "en" else "fr")).toDF("id", "vec", "lang")
    val healed = Similarity.ensureIvfIndex(spark, "ivf_e", cands2,
      nCentroids = 5, iters = 2, extraCols = Seq("lang"))
    assert(healed.centroids.length == 5)
    assert(healed.assignments.columns.contains("lang"))
    spark.sql("DROP TABLE IF EXISTS ivf_e_centroids")
    spark.sql("DROP TABLE IF EXISTS ivf_e_assignments")
  }

  test("adcResidualScoredCandidates slices reproduce ivfAdcResidualTopK at every grid cell") {
    import org.apache.spark.sql.functions._
    import graft.operators.Relational
    val rnd = new scala.util.Random(11)
    def vec(c: Double) = Seq.fill(8)(rnd.nextGaussian() * 0.3 + c)
    val corp = ((0 until 30).map(i => (i.toLong + 100L, vec(i % 3 - 1))))
      .toDF("id", "vec")
    val queries = (0 until 5).map(i => (i.toLong, vec(i % 3 - 1)))
      .toDF("id", "vec")
    val ivf = Similarity.ivfIndex(corp, nCentroids = 4, iters = 2,
      portableInit = true)
    val (codes, books) = Similarity.residualPqModel(ivf, m = 4, k = 4,
      iters = 2, dim = 8)
    val postings = Similarity.adcPostings(ivf, codes, m = 4)
    val scored = Similarity.adcResidualScoredCandidates(queries, ivf,
      postings, books, maxProbe = 3, dim = 8).localCheckpoint(false)
    for (p <- 1 to 3; sl <- Seq(3, 6)) {
      val direct = Similarity.ivfAdcResidualTopK(queries, ivf, postings,
          books, k = 3, nProbe = p, shortlist = sl, dim = 8)
        .select("query_id", "neighbor_id", "rn")
        .collect().map(_.toSeq).toSet
      val short = Relational.topKPerGroup(scored.filter(col("r") <= p),
        Seq(col("query_id")), Seq(col("approx").desc, col("neighbor_id")),
        sl, rankCol = "arn")
      val sliced = Relational.topKPerGroup(short, Seq(col("query_id")),
          Seq(col("cos").desc, col("neighbor_id")), 3)
        .select("query_id", "neighbor_id", "rn")
        .collect().map(_.toSeq).toSet
      assert(sliced == direct, s"grid cell (nProbe=$p, shortlist=$sl) " +
        "must reproduce the retrieval path's ranking")
    }
  }

  test("extension-registered SQL functions evaluate") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_simhash(array('a','b')) AS sh,
        |  graft_minhash(array('w1','w2','w3','w4'), 3, 8) AS mh,
        |  graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  graft_norm_sq(array(3.0d, 4.0d)) AS n2,
        |  graft_shingles(array('a','b','c','d'), 3) AS sg,
        |  graft_jaccard(array('x','y'), array('y','z')) AS j,
        |  graft_intersect_count(array('x','y'), array('y','z')) AS ic,
        |  graft_minhash_portable(array('w1','w2','w3','w4'), 3, 8) AS mhp,
        |  graft_simhash_portable(array('a','b')) AS shp,
        |  graft_classifier_score(array('a','b')) AS clf,
        |  graft_classifier_score(array('a','b'), 1024) AS clf2,
        |  graft_rolling_hash(array('a','b')) AS rh,
        |  graft_symbol_count('a, b!') AS sc,
        |  graft_deflate_size(repeat('ab', 50)) AS dz""".stripMargin).head()
    assert(r.getAs[scala.collection.Seq[Long]]("mh").length == 8)
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Double]("n2") == 25.0)
    assert(r.getAs[scala.collection.Seq[String]]("sg") == Seq("a b c", "b c d"))
    assert(r.getAs[Double]("j") == 1.0 / 3.0) // raw quotient, unrounded
    assert(r.getAs[Long]("ic") == 1L)
    assert(r.getAs[scala.collection.Seq[Long]]("mhp").length == 8)
    assert(r.getAs[Long]("shp") != 0L)
    // round-9 registrations: classifier / rolling-hash / symbol-count /
    // deflate-size reachable from plain SQL, values match Column API
    val clfCol = Seq(Tuple1(Seq("a", "b"))).toDF("toks")
      .select(graft.plans.TextHash.classifierScore(col("toks"))).as[Long].head()
    assert(r.getAs[Long]("clf") == clfCol)
    assert(r.getAs[Long]("clf2") != 0L || r.getAs[Long]("clf") != 0L)
    val rhCol = Seq(Tuple1(Seq("a", "b"))).toDF("toks")
      .select(graft.plans.TextHash.rollingTokenHash(col("toks"))).as[Long].head()
    assert(r.getAs[Long]("rh") == rhCol)
    assert(r.getAs[Long]("sc") == 2L) // ',' and '!'
    assert(r.getAs[Long]("dz") > 0L && r.getAs[Long]("dz") < 100L)
    // SQL function values match the Column-API expressions
    val viaCol = Seq((Seq("a", "b"), 1)).toDF("toks", "x")
      .select(graft.plans.TextHash.simhash(col("toks"))).as[Long].head()
    assert(r.getAs[Long]("sh") == viaCol)
  }

  test("array-set SQL functions: null elements follow array_intersect semantics; wrong types fail at analysis") {
    GraftExtensions.register(spark)
    // null is a member VALUE: in the intersection iff in BOTH sides,
    // in the union if in either, counted once — matching
    // size(array_intersect(a,b)) / the composed jaccard form
    val r = spark.sql(
      """SELECT
        |  graft_intersect_count(array('x', NULL, 'y', NULL), array(NULL, 'y')) AS both_null,
        |  graft_intersect_count(array('x', NULL), array('x', 'z')) AS one_null,
        |  size(array_intersect(array('x', NULL, 'y', NULL), array(NULL, 'y'))) AS oracle_both,
        |  size(array_intersect(array('x', NULL), array('x', 'z'))) AS oracle_one,
        |  graft_jaccard(array('x', NULL), array(NULL, 'y')) AS j_null
        |""".stripMargin).head()
    assert(r.getAs[Long]("both_null") == r.getAs[Int]("oracle_both").toLong)
    assert(r.getAs[Long]("one_null") == r.getAs[Int]("oracle_one").toLong)
    assert(r.getAs[Long]("both_null") == 2L) // {NULL, 'y'}
    assert(r.getAs[Long]("one_null") == 1L)  // {'x'}
    // inter {NULL} = 1, union {'x', NULL, 'y'} = 3
    assert(r.getAs[Double]("j_null") == 1.0 / 3.0)
    // a non-string array is an ANALYSIS error, not a runtime
    // ClassCastException mid-query (these are public SQL functions)
    for (bad <- Seq(
      "SELECT graft_intersect_count(array(1, 2), array(2, 3))",
      "SELECT graft_jaccard(array(1.0d), array(2.0d))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(bad).head())
      assert(e.getMessage.contains("array<string>"), e.getMessage)
    }
  }

  test("sorted-long intersect count (d19 r19): merge scan == set intersect, nulls, type check") {
    GraftExtensions.register(spark)
    // the d19 build form — sort_array(array_distinct(xxhash64 keys)) —
    // must agree with size(array_intersect) on the same sets
    val r = spark.sql(
      """SELECT
        |  graft_sorted_intersect_count(
        |    sort_array(array_distinct(array(xxhash64('a'), xxhash64('b'), xxhash64('c')))),
        |    sort_array(array_distinct(array(xxhash64('b'), xxhash64('c'), xxhash64('d'))))) AS ic,
        |  size(array_intersect(
        |    array(xxhash64('a'), xxhash64('b'), xxhash64('c')),
        |    array(xxhash64('b'), xxhash64('c'), xxhash64('d')))) AS oracle,
        |  graft_sorted_intersect_count(
        |    sort_array(array(CAST(NULL AS BIGINT), 1L, 5L)),
        |    sort_array(array(CAST(NULL AS BIGINT), 5L, 9L))) AS with_null,
        |  graft_sorted_intersect_count(
        |    sort_array(array(CAST(NULL AS BIGINT), 1L)), array(1L, 2L)) AS one_null,
        |  graft_sorted_intersect_count(array(1L, 2L),
        |    CAST(array() AS ARRAY<BIGINT>)) AS vs_empty
        |""".stripMargin).head()
    assert(r.getAs[Long]("ic") == 2L)
    assert(r.getAs[Int]("oracle") == 2)
    assert(r.getAs[Long]("with_null") == 2L) // {NULL, 5}
    assert(r.getAs[Long]("one_null") == 1L)  // {1}
    assert(r.getAs[Long]("vs_empty") == 0L)
    // randomized agreement with the hash-set twin's semantics: for
    // sorted-distinct long arrays the merge scan must equal
    // size(array_intersect) on every draw
    val rnd = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(12))(rnd.nextInt(16).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(12))(rnd.nextInt(16).toLong).distinct.sorted
      val got = Seq((a, b)).toDF("a", "b")
        .select(graft.plans.SetExprs.sortedLongIntersectCount(col("a"), col("b")))
        .as[Long].head()
      assert(got == a.toSet.intersect(b.toSet).size.toLong,
        s"merge-scan mismatch on a=$a b=$b")
    }
    // a non-long array is an ANALYSIS error (public SQL function)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_sorted_intersect_count(array('x'), array('y'))").head())
    assert(e.getMessage.contains("array<bigint>"), e.getMessage)
    // the unchecked precondition is stated where SQL callers look
    val usage = spark.catalog.getFunction("graft_sorted_intersect_count").description
    assert(usage.contains("sorted ascending and element-distinct") &&
      usage.contains("graft_intersect_count has no precondition"), usage)
  }
}
