package graft

import graft.operators.{DedupOps, SimilarityOps}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {

  test("qDedupExact conserves documents and keeps minimal doc_id") {
    val d = DedupOps.qDedupExact(spark, sf).cache()
    val total = Tables.documents(spark, sf).count()
    assert(d.agg(sum("dup_count")).head.getLong(0) === total)
    assert(d.filter(col("dup_count") < 1).count() === 0)
    d.unpersist()
  }

  test("qDedupMinhash signatures are deterministic across runs") {
    val a = DedupOps.qDedupMinhash(spark, sf).collect()
    // Memo.cached would hand back the pinned first result — invalidate so
    // the second run genuinely re-executes the shingle/permutation kernel
    // (the nondeterminism this test exists to catch).
    graft.Memo.invalidate(sf)
    val b = DedupOps.qDedupMinhash(spark, sf).collect()
    assert(a.sameElements(b))
  }

  test("LSH candidate pairs carry valid jaccard and include all exact dups") {
    val pairs = DedupOps.qDedupMinhashPairs(spark, sf).cache()
    assert(pairs.filter(col("jaccard") < 0 || col("jaccard") > 1).count() === 0)
    // any two docs with IDENTICAL text share all bands -> must be candidates
    val docs = Tables.documents(spark, sf).select(col("doc_id"), md5(col("text")).as("h"))
    val exactDups = docs.as("a").join(docs.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val missed = exactDups.join(pairs, Seq("doc_a", "doc_b"), "left_anti")
    assert(missed.count() === 0, "exact duplicates must be LSH candidates")
    pairs.unpersist()
  }

  test("qDedupSimhash emits one fingerprint per doc with tokens") {
    val fp = DedupOps.qDedupSimhash(spark, sf)
    assert(fp.count() > 0)
    assert(fp.select("doc_id").distinct().count() === fp.count())
  }

  test("qNgramJaccard pairs ordered by similarity, values in [0,1]") {
    val rows = DedupOps.qNgramJaccard(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val js = rows.map(_.getDouble(2))
    assert(js.forall(j => j >= 0 && j <= 1))
    assert(js.sameElements(js.sortBy(-_)))
  }

  test("qAnnBrute: k results per probe, cosine in [-1,1], self excluded") {
    val df = SimilarityOps.qAnnBrute(spark, sf).cache()
    assert(df.filter(col("cos") < -1.0001 || col("cos") > 1.0001).count() === 0)
    assert(df.filter(col("vec_id") === col("probe_id")).count() === 0)
    val perProbe = df.groupBy("probe_id").count()
    assert(perProbe.filter(col("count") =!= SimilarityOps.TopK).count() === 0)
    df.unpersist()
  }

  test("qAnnLsh: scores agree with brute force, recall@k above the multi-table bound") {
    val brute = SimilarityOps.qAnnBrute(spark, sf)
      .select(col("probe_id"), col("vec_id"), col("cos").as("cos_b")).cache()
    val lsh = SimilarityOps.qAnnLsh(spark, sf)
      .select(col("probe_id"), col("vec_id"), col("cos")).cache()
    // same (probe, vec) pair must score identically in both paths
    val joined = lsh.join(brute, Seq("probe_id", "vec_id"))
    assert(joined.filter(abs(col("cos") - col("cos_b")) > 1e-9).count() === 0)
    // recall@k: fraction of true top-k recovered (8 tables x 4 bits
    // measures ~0.7; assert a conservative floor so a regression to
    // single-table recall (~0.08) fails loudly)
    val recall = joined.count().toDouble / brute.count()
    assert(recall >= 0.4, s"LSH recall@k degraded to $recall")
    brute.unpersist(); lsh.unpersist()
  }

  test("qAnnIvf scores agree with brute force; at most k results per probe") {
    val brute = SimilarityOps.qAnnBrute(spark, sf)
      .select(col("probe_id"), col("vec_id"), col("cos").as("cos_b"))
    val ivf = SimilarityOps.qAnnIvf(spark, sf).cache()
    assert(ivf.count() > 0)
    assert(ivf.groupBy("probe_id").count()
      .filter(col("count") > SimilarityOps.TopK).count() === 0)
    val joined = ivf.join(brute, Seq("probe_id", "vec_id"))
      .filter(abs(col("cos") - col("cos_b")) > 1e-9)
    assert(joined.count() === 0)
    ivf.unpersist()
  }

  test("qAnnIvfPq: exact re-rank scores match brute force; recall within IVF's bound") {
    val brute = SimilarityOps.qAnnBrute(spark, sf)
      .select(col("probe_id"), col("vec_id"), col("cos").as("cos_b")).cache()
    val ivf = SimilarityOps.qAnnIvf(spark, sf)
      .select(col("probe_id"), col("vec_id")).cache()
    val pq = SimilarityOps.qAnnIvfPq(spark, sf).cache()
    assert(pq.count() > 0)
    assert(pq.groupBy("probe_id").count()
      .filter(col("count") > SimilarityOps.TopK).count() === 0)
    // shortlist survivors are re-ranked EXACTLY: scores must equal brute
    val joined = pq.join(brute, Seq("probe_id", "vec_id"))
    assert(joined.filter(abs(col("cos") - col("cos_b")) > 1e-9).count() === 0)
    // PQ only narrows WITHIN the lists IVF already chose, so its recall
    // vs brute can't collapse below a fraction of plain IVF's (the 4x-k
    // shortlist keeps nearly everything the codes rank plausibly)
    val ivfRecall = ivf.join(brute, Seq("probe_id", "vec_id")).count().toDouble
    val pqRecall = joined.count().toDouble
    assert(pqRecall >= 0.5 * ivfRecall,
      s"IVF+PQ recall $pqRecall collapsed vs IVF $ivfRecall")
    brute.unpersist(); ivf.unpersist(); pq.unpersist()
  }

  test("qEmbedStats: counts reconcile, norms ordered, single dimensionality") {
    val st = SimilarityOps.qEmbedStats(spark, sf).cache()
    assert(st.agg(sum("n")).head.getLong(0) ===
      Tables.embeddings(spark, sf).count())
    assert(st.filter(col("n_dims") =!= 1).count() === 0,
      "synthetic embeddings are fixed-dimension")
    assert(st.filter(col("min_norm") > col("avg_norm") ||
      col("avg_norm") > col("max_norm") || col("min_norm") <= 0).count() === 0)
    st.unpersist()
  }

  test("qEmbedNeardup pairs stay within label buckets") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val out = SimilarityOps.qEmbedNeardup(spark, sf)
      .join(e.withColumnRenamed("vec_id", "vec_a").withColumnRenamed("label", "la"), "vec_a")
      .join(e.withColumnRenamed("vec_id", "vec_b").withColumnRenamed("label", "lb"), "vec_b")
      .filter(col("la") =!= col("lb"))
    assert(out.count() === 0)
  }

  test("qDedupSimhashPairs: band-blocked pairs are exactly the brute-force " +
      "hamming hits that share a band") {
    val sig = DedupOps.qDedupSimhash(spark, sf)
      .select(col("doc_id"), col("simhash"))
    // brute force: ALL pairs within HammingMax
    val all = sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("h"))
      .filter(col("h") <= DedupOps.HammingMax)
    val blocked = DedupOps.qDedupSimhashPairs(spark, sf)
    // every blocked pair is a true hamming hit with the same distance
    val wrong = blocked.join(all, Seq("doc_a", "doc_b"), "left")
      .filter(col("h").isNull || col("h") =!= col("hamming"))
    assert(wrong.count() === 0)
    // pigeonhole: hamming < SimhashBands means SOME band is untouched →
    // blocking must recall those pairs exactly
    val missed = all.filter(col("h") < DedupOps.SimhashBands)
      .join(blocked, Seq("doc_a", "doc_b"), "left_anti")
    assert(missed.count() === 0)
  }

  test("qDedupClusters: every doc labeled, labels are component minima") {
    val cl = DedupOps.qDedupClusters(spark, sf).cache()
    assert(cl.count() === Tables.documents(spark, sf).count())
    // min-label invariant: a cluster id never exceeds the member doc id
    assert(cl.filter(col("cluster_id") > col("doc_id")).count() === 0)
    // is_survivor marks exactly one doc per cluster — the labeling doc
    assert(cl.filter(col("is_survivor") === 1).count() ===
      cl.select("cluster_id").distinct().count())
    // every thresholded near-dup pair ends up in ONE cluster
    val pairs = DedupOps.qDedupMinhashPairs(spark, sf)
      .filter(col("jaccard") >= DedupOps.ClusterJaccard)
      .select(col("doc_a"), col("doc_b"))
    val lbl = cl.select(col("doc_id"), col("cluster_id"))
    val split = pairs
      .join(lbl.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("cluster_id", "ca"), "doc_a")
      .join(lbl.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("cluster_id", "cb"), "doc_b")
      .filter(col("ca") =!= col("cb"))
    assert(split.count() === 0)
    cl.unpersist()
  }

  test("qDecontaminate flags exactly the docs sharing a 5-shingle with the eval set") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-decon").toString
    Seq(
      // doc_id % 20 == 0 -> eval set
      (20L, "en", 11L, "a b c d e f"),
      (40L, "en", 11L, "q r s t u v"),
      (1L, "en", 11L, "a b c d e x"),   // shares "a b c d e"       -> 1
      (2L, "en", 11L, "z y x w v u"),   // clean                    -> 0
      (3L, "en", 13L, "b c d e f g h"), // shares "b c d e f"       -> 1
      (4L, "en", 11L, "q r s t u v"))   // both eval-40 shingles    -> 2
      .toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.operators.DedupOps.qDecontaminate(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 1L, 1L), (2L, 0L, 0L), (3L, 1L, 1L), (4L, 2L, 1L)))
  }

  test("qPqCodes: valid code range, one row per vector, reconstruction beats random") {
    val df = SimilarityOps.qPqCodes(spark, sf).cache()
    assert(df.count() === Tables.embeddings(spark, sf).count())
    for (s <- 0 until SimilarityOps.PqSub) {
      assert(df.filter(col(s"code_$s") < 0 ||
        col(s"code_$s") >= SimilarityOps.PqK).count() === 0)
    }
    assert(df.filter(col("recon_err") < 0).count() === 0)
    // compression sanity: mean reconstruction error is well below the
    // mean squared norm (a codebook that ignored the data would not be)
    val meanErr = df.agg(avg("recon_err")).head.getDouble(0)
    val meanSq = Tables.embeddings(spark, sf)
      .select(graft.functions.VectorExpressions
        .dotProd(graft.functions.TextFunctions.toDouble(col("embedding")),
          graft.functions.TextFunctions.toDouble(col("embedding"))).as("sq"))
      .agg(avg("sq")).head.getDouble(0)
    assert(meanErr < meanSq * 0.9, s"meanErr=$meanErr meanSq=$meanSq")
    df.unpersist()
  }

  test("qEmbedQuantize: error bounded by half a quantization step, rmse <= max_err") {
    import graft.operators.SimilarityOps
    val q = SimilarityOps.qEmbedQuantize(spark, sf).cache()
    assert(q.count() === Tables.embeddings(spark, sf).count())
    // half-up int8 rounding can miss a value by at most step/2, where
    // step = widest per-dim range / 255 (plus float slack)
    val dims = Tables.embeddings(spark, sf)
      .select(posexplode(graft.functions.TextFunctions.toDouble(col("embedding")))
        .as(Seq("pos", "v")))
    val maxRange = dims.groupBy(col("pos"))
      .agg((max(col("v")) - min(col("v"))).as("rng"))
      .agg(max(col("rng"))).head.getDouble(0)
    val bound = maxRange / 255 / 2 + 1e-6
    assert(q.filter(col("max_err") > bound).count() === 0,
      s"max_err above the half-step bound $bound")
    assert(q.filter(col("rmse") > col("max_err")).count() === 0)
    q.unpersist()
  }

  test("qEditDistance: exact-dup candidates at distance 0, similarity consistent") {
    val df = DedupOps.qEditDistance(spark, sf).cache()
    assert(df.count() > 0)
    // every pair came from the hamming-verified candidate set
    assert(df.filter(col("hamming") > DedupOps.HammingMax).count() === 0)
    // distance-0 pairs must report similarity exactly 1
    assert(df.filter(col("edit_distance") === 0 && col("similarity") =!= 1.0)
      .count() === 0)
    // spot-check one pair against a direct levenshtein recompute
    val top = df.head
    val texts = Tables.documents(spark, sf)
      .filter(col("doc_id").isin(top.getAs[Long]("doc_a"), top.getAs[Long]("doc_b")))
      .orderBy(col("doc_id")).collect().map(_.getAs[String]("text"))
    val direct = Tables.documents(spark, sf).sparkSession.range(1)
      .select(levenshtein(lit(texts(0)), lit(texts(1))).cast("long"))
      .head.getLong(0)
    assert(top.getAs[Long]("edit_distance") === direct)
    df.unpersist()
  }

  test("qShingleDfProfile: postings mass matches an independent shingle recount") {
    val prof = DedupOps.qShingleDfProfile(spark, sf).collect()
    assert(prof.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(graft.functions.ShingleHash32(col("text"), 3)).as("h"))
      .filter(size(col("h")) > 0)
    assert(prof.map(_.getAs[Long]("n_postings")).sum ===
      docs.select(explode(col("h"))).count())
    assert(prof.map(_.getAs[Long]("n_shingles")).sum ===
      docs.select(explode(col("h")).as("hh")).distinct().count())
    for (r <- prof) {
      assert(r.getAs[Long]("capped_postings") <= r.getAs[Long]("n_postings"))
      assert(r.getAs[Long]("truncated_bp") >= 0 &&
        r.getAs[Long]("truncated_bp") < 10000)
      // the cap binds exactly where df can exceed it: buckets whose
      // digit count keeps df <= cap must report zero truncation
      if (r.getAs[Long]("df_digits") <=
          math.log10(DedupOps.ContainmentDfCap.toDouble).toLong)
        assert(r.getAs[Long]("truncated_bp") === 0L)
    }
  }

  test("qDedupThresholdSweep: cuts are monotone and recount against the pair frame") {
    val sweep = DedupOps.qDedupThresholdSweep(spark, sf).collect()
    assert(sweep.nonEmpty)
    val byT = sweep.sortBy(_.getAs[Long]("threshold_bp"))
    // a higher cut can only act on fewer pairs / fewer documents
    for (w <- byT.sliding(2) if w.length == 2) {
      assert(w(1).getAs[Long]("n_pairs") <= w(0).getAs[Long]("n_pairs"))
      assert(w(1).getAs[Long]("n_docs_affected") <= w(0).getAs[Long]("n_docs_affected"))
    }
    // the 0.5 row recounts exactly from the pair frame itself
    val pairs = DedupOps.qDedupMinhashPairs(spark, sf)
      .filter(col("jaccard") >= 0.5).cache()
    val r5 = byT.find(_.getAs[Long]("threshold_bp") == 5000L)
    assert(r5.isDefined === (pairs.count() > 0))
    for (r <- r5) {
      assert(r.getAs[Long]("n_pairs") === pairs.count())
      assert(r.getAs[Long]("n_docs_affected") ===
        pairs.select(explode(array(col("doc_a"), col("doc_b")))).distinct().count())
    }
    pairs.unpersist()
  }

  test("qContainment finds every exact-duplicate pair at full containment") {
    val df = DedupOps.qContainment(spark, sf).cache()
    // all reported pairs clear the threshold
    assert(df.filter(greatest(col("c_ab"), col("c_ba")) < DedupOps.ContainmentMin)
      .count() === 0)
    // exact text duplicates share ALL shingles → bottom-k anchors
    // necessarily collide, so each dup pair must be reported at 1.0
    val byText = Tables.documents(spark, sf)
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    val missed = byText.join(
      df.filter(col("c_ab") === 1.0 && col("c_ba") === 1.0),
      Seq("doc_a", "doc_b"), "left_anti")
    assert(missed.count() === 0)
    df.unpersist()
  }

  test("qContainment detects a doc embedded in a larger one that Jaccard would dilute") {
    val s = spark; import s.implicits._
    val tmp = s"/tmp/graft-containment-${System.nanoTime()}"
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " " + (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    Seq((1L, "en", small.length.toLong, small), (2L, "en", big.length.toLong, big))
      .toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = DedupOps.qContainment(spark, tmp).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assert(r.getAs[Double]("c_ab") === 1.0)  // small fully contained
    assert(r.getAs[Double]("c_ba") < 0.1)    // Jaccard-style view is diluted
  }

  test("qContainment df cap bounds a planted hot shingle's candidate fan-out") {
    val s = spark; import s.implicits._
    // 200 docs whose ONLY shingle is the planet-hot 999 (pure boilerplate:
    // every pair is a 1.0-containment hit if the hot key reaches the
    // join), plus one genuine containment pair on cold shingles.
    val hotDocs = (0L until 200L).map(i => (i, Seq(999L)))
    val coldPair = Seq(
      (500L, (1L to 10L).toSeq :+ 999L),
      (501L, (1L to 20L).toSeq :+ 999L))
    val d = (hotDocs ++ coldPair).toDF("doc_id", "h")
    // Capped: the hot shingle's postings are dropped, so the 200-doc
    // clique (C(200,2) = 19900 pairs) never reaches candidate
    // generation; the genuine pair still meets on its cold anchors, and
    // its score still counts the hot shingle (verify uses full arrays).
    val capped = DedupOps.containmentPairs(d, dfCap = 50).collect()
    assert(capped.length === 1, s"expected only the cold pair, got ${capped.length}")
    assert(capped(0).getAs[Long]("doc_a") === 500L)
    assert(capped(0).getAs[Long]("doc_b") === 501L)
    assert(capped(0).getAs[Double]("c_ab") === 1.0) // (10 cold + hot) / 11
    // Uncapped control: the same frame explodes into the full hot clique
    // (all 202 docs share 999 → C(202,2) pairs) — proving the cap, not
    // the data, is what bounds the fan-out.
    val uncapped = DedupOps.containmentPairs(d, dfCap = Int.MaxValue).count()
    assert(uncapped === 202L * 201L / 2L)
  }

  test("qMinhashCalibration: deciles partition the pairs frame; MAE dominates the bias") {
    val cal = DedupOps.qMinhashCalibration(spark, sf).collect()
    assert(cal.nonEmpty)
    // one row per occupied decile, estimates inside their decile bounds
    val total = cal.map(_.getAs[Long]("n_pairs")).sum
    assert(total === DedupOps.qDedupMinhashPairs(spark, sf).count(),
      "calibration must aggregate EXACTLY the LSH candidate-pair frame")
    for (r <- cal) {
      val d = r.getAs[Long]("decile")
      val est = r.getAs[Double]("mean_est")
      assert(est >= d / 10.0 - 1e-4 && est < (d + 1) / 10.0 + 1e-4,
        s"decile $d holds mean_est $est outside its bin")
      val exact = r.getAs[Double]("mean_exact")
      val mae = r.getAs[Double]("mae")
      // mean absolute error can never be smaller than |mean bias|
      assert(mae >= math.abs(est - exact) - 1e-3,
        s"decile $d: mae $mae below |bias| ${math.abs(est - exact)}")
    }
    // every mean is the HALF_UP 4-dp quotient of exact sums, recomputed
    // here in BigDecimal from the pairs frame and the signatures
    val mh = DedupOps.qDedupMinhash(spark, sf).collect().map(r =>
      r.getAs[Long]("doc_id") -> (0 until 12).map(j => r.getAs[Long](s"mh_$j"))).toMap
    def q4(p: BigDecimal, q: Long): Double =
      p.bigDecimal.divide(java.math.BigDecimal.valueOf(q), 4,
        java.math.RoundingMode.HALF_UP).doubleValue
    val byDecile = DedupOps.qDedupMinhashPairs(spark, sf).collect().toSeq.map { r =>
      val (a, b) = (mh(r.getAs[Long]("doc_a")), mh(r.getAs[Long]("doc_b")))
      val k = a.zip(b).count { case (x, y) => x == y }
      (k, BigDecimal(r.getAs[Double]("jaccard")).setScale(4))
    }.groupBy { case (k, _) => k * 10L / 12 }
    assert(cal.map(_.getAs[Long]("decile")).toSet === byDecile.keySet)
    for (r <- cal) {
      val ps = byDecile(r.getAs[Long]("decile"))
      val n = ps.size.toLong
      val est = BigDecimal(ps.map(_._1).sum)
      val exact = ps.map(_._2).sum
      val err = ps.map { case (k, e) =>
        (BigDecimal(k) / 12).setScale(4, BigDecimal.RoundingMode.HALF_UP) - e }
        .map(_.abs).sum
      assert(r.getAs[Long]("n_pairs") === n)
      assert(r.getAs[Double]("mean_est") === q4(est, 12 * n))
      assert(r.getAs[Double]("mean_exact") === q4(exact, n))
      assert(r.getAs[Double]("mae") === q4(err, n))
    }
  }

  test("halfUp4 rounds exact integer quotients half-up at the measured ties") {
    def h(p: Long, q: Long): Double =
      spark.range(1).select(DedupOps.halfUp4(lit(p), lit(q))).head.getDouble(0)
    // Sigma exact 5.7627 over 6 pairs = 0.96045 (both engines' double
    // rounding once disagreed here); 0.0029 over 2 = 0.00145
    assert(h(57627L, 6L) === 0.9605)
    assert(h(29L, 2L) === 0.0015)
    // mean_est: Sigma k = 3 over 8 pairs of 12 permutations = 0.03125
    assert(h(3L * 10000, 96L) === 0.0313)
    // off-tie neighbours round to nearest
    assert(h(57626L, 6L) === 0.9604)
    assert(h(57629L, 6L) === 0.9605)
  }

  test("qDedupFunnel: stages telescope, totals reconcile with the exact and cluster dedups") {
    val f = DedupOps.qDedupFunnel(spark, sf).collect()
    assert(f.nonEmpty)
    for (r <- f) {
      val (n, ex, fin) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_exact_survivors"), r.getAs[Long]("n_final_survivors"))
      assert(ex <= n && fin <= ex, "funnel must be monotone")
      assert(r.getAs[Long]("removed_exact") === n - ex)
      assert(r.getAs[Long]("removed_near") === ex - fin)
      assert(r.getAs[Long]("retention_bp") === fin * 10000 / n)
    }
    // Sigma exact survivors = one keeper per content-hash group
    val exTotal = f.map(_.getAs[Long]("n_exact_survivors")).sum
    assert(exTotal === DedupOps.qDedupExact(spark, sf).count())
    // Sigma final = |exact keepers ∩ cluster survivors|, recomputed
    // independently from the two gated queries the funnel composes
    val s = spark
    import s.implicits._
    val keepers = DedupOps.qDedupExact(spark, sf)
      .select($"keeper_doc_id".as[Long]).collect().toSet
    val clusterSurv = DedupOps.qDedupClusters(spark, sf)
      .filter($"is_survivor" === 1L).select($"doc_id".as[Long]).collect().toSet
    val finTotal = f.map(_.getAs[Long]("n_final_survivors")).sum
    assert(finTotal === (keepers intersect clusterSurv).size.toLong)
  }

  test("qDocDupProfile: exact/near/cluster columns reconcile with the queries they summarize") {
    val prof = DedupOps.qDocDupProfile(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(prof.length.toLong === nDocs, "one profile row per document")
    // Sigma (group−1) = docs − distinct content groups
    assert(prof.map(_.getAs[Long]("n_exact_dups")).sum ===
      nDocs - DedupOps.qDedupExact(spark, sf).count())
    // every verified pair touches exactly two docs
    assert(prof.map(_.getAs[Long]("n_near_pairs")).sum ===
      2L * DedupOps.qDedupMinhashPairs(spark, sf).count())
    // cluster_size agrees with the cluster assignment's own group sizes
    val clusters = DedupOps.qDedupClusters(spark, sf).collect()
    val sizeByCluster = clusters.groupBy(_.getAs[Long]("cluster_id"))
      .map { case (c, rs) => c -> rs.length.toLong }
    val clusterByDoc = clusters
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    for (r <- prof) {
      val d = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("cluster_size") === sizeByCluster(clusterByDoc(d)),
        s"doc $d: cluster_size diverges from qDedupClusters")
      val mj = r.getAs[Double]("max_jaccard")
      assert(mj >= 0.0 && mj <= 1.0)
      if (r.getAs[Long]("n_near_pairs") == 0L) assert(mj === 0.0)
    }
  }

  test("LSH band-bucket caps bound a planted clone storm on both pair generators") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bandcap").toString
    // 300 byte-identical docs: every doc shares every MinHash band and
    // every SimHash band — the uncapped self-joins would emit C(300,2) =
    // 44,850 pairs; the caps keep the first K doc_ids per bucket, so the
    // candidate sets are exactly C(cap,2) among the SENIORS.
    val n = 300
    val text = "the quick brown fox jumps over the lazy dog again and again"
    (0 until n).map(i => (i.toLong, "en", text.length.toLong, text))
      .toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val mh = DedupOps.qDedupMinhashPairs(spark, tmp).cache()
    val mCap = DedupOps.MinhashBandCap.toLong
    assert(mh.count() === mCap * (mCap - 1) / 2,
      "minhash candidates must be exactly the capped-bucket pairs")
    assert(mh.agg(max("doc_a")).head.getLong(0) < mCap &&
      mh.agg(max("doc_b")).head.getLong(0) < mCap,
      "kept bucket members must be the smallest doc_ids (the survivors)")
    mh.unpersist()
    val sh = DedupOps.qDedupSimhashPairs(spark, tmp).cache()
    val sCap = DedupOps.SimhashBandCap.toLong
    assert(sh.count() === sCap * (sCap - 1) / 2)
    assert(sh.filter(col("hamming") =!= 0).count() === 0)
    assert(sh.agg(max("doc_b")).head.getLong(0) < sCap)
    sh.unpersist()
  }

  test("qEmbedNeardup label cap keeps the smallest vec_ids per label") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-labelcap").toString
    // one label with population > cap: pairs may only touch the first
    // NeardupLabelCap vec_ids (deterministic first-K clamp)
    val n = SimilarityOps.NeardupLabelCap + 88
    val rng = new scala.util.Random(7)
    (0 until n).map(i =>
        (i.toLong, 0L, Array.fill(8)(rng.nextFloat())))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = SimilarityOps.qEmbedNeardup(spark, tmp).cache()
    assert(out.count() === 20)
    assert(out.agg(max(greatest(col("vec_a"), col("vec_b")))).head.getLong(0)
      < SimilarityOps.NeardupLabelCap,
      "pairs must come only from the capped (first-K by vec_id) set")
    out.unpersist()
  }

  test("semanticDedupFrame collapses a planted clone storm to its group minimum") {
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    // 30 exact clones of vec 0: the collapse represents the whole family
    // once in candidate generation; every clone must resolve to the
    // group minimum (vec 0) at cos exactly 1.0
    val clones = base.filter(col("vec_id") === 0)
      .crossJoin(spark.range(1, 31).select((col("id") + 20000).as("cid")))
      .select(col("cid").as("vec_id"), col("embedding"))
    val out = SimilarityOps.semanticDedupFrame(
        base.unionAll(clones), SimilarityOps.SemDedupTau)
      .filter(col("vec_id") > 20000).collect()
    assert(out.length === 30)
    out.foreach { r =>
      assert(r.getAs[Long]("is_kept") === 0L)
      assert(r.getAs[Long]("dup_of") === 0L)
      assert(r.getAs[Double]("max_cos") === 1.0)
    }
  }

  test("semanticDedupFrame: planted exact clones are dropped, seniors kept") {
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    // clone vec_id < 5 at id+10000: cosine(original, clone) = 1 ≥ τ and
    // both land in the same KMeans cell, so every clone must be dropped
    // with its original (or an earlier clone-mate) as dup_of
    val planted = base.unionAll(
      base.filter(col("vec_id") < 5)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val out = SimilarityOps.semanticDedupFrame(planted, SimilarityOps.SemDedupTau)
      .collect()
    assert(out.length === base.count().toInt + 5)
    val clones = out.filter(_.getAs[Long]("vec_id") >= 10000)
    assert(clones.length === 5)
    clones.foreach { r =>
      assert(r.getAs[Long]("is_kept") === 0L,
        s"planted clone survived: ${r.mkString(",")}")
      assert(r.getAs[Long]("dup_of") <= r.getAs[Long]("vec_id") - 10000)
      assert(r.getAs[Double]("max_cos") >= SimilarityOps.SemDedupTau)
    }
    // nothing is dropped without a recorded senior above the threshold
    out.filter(_.getAs[Long]("is_kept") === 0L).foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("dup_of")))
      assert(r.getAs[Double]("max_cos") >= SimilarityOps.SemDedupTau)
    }
  }

  test("qMmrSample: deterministic, diverse vs plain top-k, led by top relevance") {
    val a = SimilarityOps.qMmrSample(spark, sf).collect()
    val b = SimilarityOps.qMmrSample(spark, sf).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    assert(a.length === SimilarityOps.MmrK)
    assert(a.map(_.getAs[Long]("rank")).toSeq === (1L to SimilarityOps.MmrK).toSeq)
    // first pick is the relevance argmax; scores never exceed relevance
    assert(a.head.getAs[Double]("relevance") ===
      a.map(_.getAs[Double]("relevance")).max)
    // diversity: the MMR set's max pairwise cosine is no worse than the
    // plain top-k-by-relevance set's
    import graft.functions.VectorExpressions.cosineSim
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    def maxPairCos(ids: Seq[Long]): Double = {
      val sel = e.filter(col("vec_id").isin(ids: _*))
      sel.as("a").join(sel.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(cosineSim(col("a.embedding"), col("b.embedding")).as("c"))
        .agg(max(col("c"))).head.getDouble(0)
    }
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"))
    val topk = e.filter(col("vec_id") =!= 0).join(broadcast(probe))
      .select(col("vec_id"),
        cosineSim(col("probe_emb"), col("embedding")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(SimilarityOps.MmrK).collect().map(_.getLong(0)).toSeq
    val mmrIds = a.map(_.getAs[Long]("vec_id")).toSeq
    assert(maxPairCos(mmrIds) <= maxPairCos(topk) + 1e-9,
      "MMR selection must not be more clumped than plain top-k")
  }

  test("qDedupIncremental: probe reads ZERO historical text — tampered history cannot change the result") {
    val s = spark
    import s.implicits._
    // Planted corpus: hist docs 1-3, new-shard docs 10/20/30
    // (doc_id % 10 == 0). 10 and 30 are byte clones of hist doc 1 →
    // expected pairs (1,10) cross, (1,30) cross, (10,30) intra, all at
    // jaccard 1.0; doc 20 and hist 2/3 are unrelated.
    val donor = "the quick brown fox jumps over the lazy dog near the river bank today"
    val real = Seq(
      (1L, "en", donor.length.toLong, "plant", donor),
      (2L, "en", 40L, "plant", "completely different content about spark catalyst plans"),
      (3L, "en", 40L, "plant", "yet another unrelated historical document body text"),
      (10L, "en", donor.length.toLong, "plant", donor),
      (20L, "en", 40L, "plant", "a fresh crawl document sharing nothing with history"),
      (30L, "en", donor.length.toLong, "plant", donor))
      .toDF("doc_id", "lang", "n_chars", "source", "text")
    val tmpReal = java.nio.file.Files.createTempDirectory("graft-increal").toString
    real.write.mode("overwrite").parquet(s"$tmpReal/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft-incidx").toString
    DedupOps.buildMinhashIndex(spark, tmpReal, idx)
    // Tamper EVERY historical text (ids % 10 != 0) — if the probe path
    // re-read any historical text byte, the planted (1,10)/(1,30) pairs
    // would vanish (scrambled doc 1 shares no shingles with the donor).
    val tampered = real.withColumn("text",
      when(col("doc_id") % DedupOps.IncrementalShardMod =!= 0,
        concat(lit("SCRAMBLED "), reverse(col("text")), lit(" ZZZ")))
        .otherwise(col("text")))
    val tmpBad = java.nio.file.Files.createTempDirectory("graft-incbad").toString
    tampered.write.mode("overwrite").parquet(s"$tmpBad/documents.parquet")
    val newShard = Tables.documents(spark, tmpBad)
      .filter(col("doc_id") % DedupOps.IncrementalShardMod === 0)
    val got = DedupOps.incrementalPairs(spark, newShard, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(got === Set((1L, 10L, "cross", 1.0), (1L, 30L, "cross", 1.0),
      (10L, 30L, "intra", 1.0)),
      s"index probe must surface exactly the planted pairs from the STORED index: $got")
    // and the registered entry (index built + probed from the real dir)
    // agrees with the explicit two-step path
    val viaEntry = DedupOps.qDedupIncremental(spark, tmpReal).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(viaEntry === got)
  }

  test("compactIndex: compacted generation is CONTENT-equal to a from-scratch full-corpus build, reading zero historical text") {
    val s = spark
    import s.implicits._
    val donor = "the quick brown fox jumps over the lazy dog near the river bank today"
    val real = Seq(
      (1L, "en", donor.length.toLong, "plant", donor),
      (2L, "en", 40L, "plant", "completely different content about spark catalyst plans"),
      (3L, "en", 40L, "plant", "yet another unrelated historical document body text"),
      (10L, "en", donor.length.toLong, "plant", donor),
      (20L, "en", 40L, "plant", "a fresh crawl document sharing nothing with history"),
      (30L, "en", donor.length.toLong, "plant", donor))
      .toDF("doc_id", "lang", "n_chars", "source", "text")
    val tmpReal = java.nio.file.Files.createTempDirectory("graft-cpreal").toString
    real.write.mode("overwrite").parquet(s"$tmpReal/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft-cpidx").toString
    DedupOps.buildMinhashIndex(spark, tmpReal, idx)
    // Tamper EVERY historical text; the shard rows (ids % 10 == 0) stay
    // intact — compaction may read shard text (it must shingle the new
    // docs) but never a historical byte (those come from the stored
    // index). If it re-read history, the tampered band/sig rows would
    // diverge from the from-scratch build over the REAL corpus.
    val tampered = real.withColumn("text",
      when(col("doc_id") % DedupOps.IncrementalShardMod =!= 0,
        concat(lit("SCRAMBLED "), reverse(col("text")), lit(" ZZZ")))
        .otherwise(col("text")))
    val tmpBad = java.nio.file.Files.createTempDirectory("graft-cpbad").toString
    tampered.write.mode("overwrite").parquet(s"$tmpBad/documents.parquet")
    val shard = Tables.documents(spark, tmpBad)
      .filter(col("doc_id") % DedupOps.IncrementalShardMod === 0)
    val out = java.nio.file.Files.createTempDirectory("graft-cpout").toString
    DedupOps.compactIndex(spark, idx, shard, out)
    // ground truth: band/sig rows built from scratch over the FULL real corpus
    val fullBands = DedupOps.bandRows(Tables.documents(spark, tmpReal))
    val fullSigs = DedupOps.sigRows(Tables.documents(spark, tmpReal))
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val gotBands = spark.read.parquet(s"$out/bands")
    val gotSigs = spark.read.parquet(s"$out/sigs")
      .select(col("doc_id"), explode(col("sh")).as("h"))
    assert(gotBands.exceptAll(fullBands).count() === 0 &&
      fullBands.exceptAll(gotBands).count() === 0,
      "compacted band rows must equal the from-scratch full-corpus build")
    assert(gotSigs.exceptAll(fullSigs).count() === 0 &&
      fullSigs.exceptAll(gotSigs).count() === 0,
      "compacted signature rows must equal the from-scratch build")
  }

  test("qDedupIndexCompact: digest counts conserve against the live band/sig kernels") {
    val d = DedupOps.qDedupIndexCompact(spark, sf).collect()
    assert(d.map(_.getLong(0)).toSeq.sorted === Seq(-1L, 0L, 1L, 2L, 3L),
      "one digest row per band plus the sigs row")
    val docs = Tables.documents(spark, sf)
    val bands = DedupOps.bandRows(Tables.spread(spark, docs))
      .filter(col("bucket").isNotNull)
    val byBand = bands.groupBy(substring(col("bucket"), 1, 1).cast("long").as("band"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sigRowCount = DedupOps.sigRows(docs)
      .select(explode(col("sh"))).count()
    for (r <- d) {
      val (band, nRows) = (r.getLong(0), r.getLong(1))
      if (band >= 0) assert(nRows === byBand(band),
        s"band $band digest row count must equal the live kernel's")
      else assert(nRows === sigRowCount, "sigs digest row count")
      assert(r.getLong(2) > 0 && r.getLong(3) > 0, "keys/docs positive")
      assert(BigDecimal(r.getString(4)) > 0, "checksum is a positive decimal")
    }
  }

  test("qEmbedDrift: psi is exactly 0 on identical splits, spikes only on the shifted dimension, and is non-negative on the fixture") {
    val s = spark
    import s.implicits._
    // planted: 8 base vectors duplicated into even (2k) and odd (2k+1)
    // ids — the two split histograms are IDENTICAL, so every PSI term
    // has pa == pb and the sum is exactly 0.0
    val base = (0 until 8).map(i =>
      Array.tabulate(4)(j => ((i + j) % 5 - 2) * 0.11f))
    val same = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((2L * i, v.toSeq, 0), (2L * i + 1, v.toSeq, 0)) }
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label"))
    val tmpSame = java.nio.file.Files.createTempDirectory("graft-driftA").toString
    same.write.mode("overwrite").parquet(s"$tmpSame/embeddings.parquet")
    val zero = SimilarityOps.qEmbedDrift(spark, tmpSame).collect()
    assert(zero.length === 4)
    assert(zero.forall(_.getDouble(3) === 0.0),
      "identical split histograms must score PSI exactly 0")
    // shift dim 2 of the ODD split far right: only dim 2 drifts
    val shifted = base.zipWithIndex.flatMap { case (v, i) =>
      val moved = v.updated(1, 0.9f)
      Seq((2L * i, v.toSeq, 0), (2L * i + 1, moved.toSeq, 0)) }
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label"))
    val tmpShift = java.nio.file.Files.createTempDirectory("graft-driftB").toString
    shifted.write.mode("overwrite").parquet(s"$tmpShift/embeddings.parquet")
    val drift = SimilarityOps.qEmbedDrift(spark, tmpShift).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(drift(2L) > 0.5, s"shifted dim must drift hard: ${drift(2L)}")
    assert(Seq(1L, 3L, 4L).forall(dim => drift(dim) === 0.0),
      s"unshifted dims must stay at exactly 0: $drift")
    // fixture: one row per dim, split sizes conserve, PSI ≥ 0 (each term
    // (pa−pb)·ln(pa/pb) has matching signs)
    val f = SimilarityOps.qEmbedDrift(spark, sf).collect()
    val nVec = Tables.embeddings(spark, sf).count()
    assert(f.length === 64)
    for (r <- f) {
      assert(r.getLong(1) + r.getLong(2) === nVec, "split sizes conserve")
      assert(r.getDouble(3) >= 0.0, s"PSI must be non-negative: $r")
    }
  }

  test("qAnnRecallSweep: recall monotone in nprobe, exactly 10000 bp at nprobe = k, scan fraction monotone and bounded") {
    val rows = SimilarityOps.qAnnRecallSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === SimilarityOps.SweepNprobes.map(_.toLong),
      "one row per swept nprobe")
    val recalls = rows.map(_._2)
    val scanned = rows.map(_._3)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nprobe: ${recalls.toSeq}")
    assert(scanned.zip(scanned.tail).forall { case (a, b) => a <= b },
      s"scan fraction must be monotone in nprobe: ${scanned.toSeq}")
    // nprobe = k visits every list: the candidate set IS the corpus minus
    // self, the ranking is qAnnBrute's (same r4 cos, same tiebreak) —
    // recall must be exactly 1.0, not approximately
    assert(recalls.last === 10000L,
      s"nprobe = k must degenerate to brute force: ${recalls.last}")
    assert(scanned.forall(s => s > 0 && s <= 10000), s"scan bp bounded: ${scanned.toSeq}")
  }

  test("qContaminationPairs: a planted eval clone scores full containment; every reported train doc is decontaminate-flagged") {
    val s = spark
    import s.implicits._
    // doc 40 is the eval doc (id % 20 == 0); doc 7 is its byte clone in
    // the training split; docs 3 and 9 share nothing with it
    val leaked = (1 to 30).map(i => s"leak$i").mkString(" ")
    val planted = Seq(
      (3L, "en", 40L, "plant", (1 to 30).map(i => s"alpha$i").mkString(" ")),
      (7L, "en", leaked.length.toLong, "plant", leaked),
      (9L, "en", 40L, "plant", (1 to 30).map(i => s"beta$i").mkString(" ")),
      (40L, "en", leaked.length.toLong, "plant", leaked))
      .toDF("doc_id", "lang", "n_chars", "source", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-contam").toString
    planted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupOps.qContaminationPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq === Seq((40L, 7L, 10000L)),
      s"the clone pair at full containment and nothing else: ${got.toSeq}")
    // fixture cross-check: every train doc the pair report names must be
    // flagged by the per-doc decontaminate screen (containment ≥ 10% of
    // an eval doc implies ≥ 1 shared shingle instance)
    val flagged = DedupOps.qDecontaminate(spark, sf).collect()
      .filter(_.getLong(2) === 1L).map(_.getLong(0)).toSet
    val pairsTrain = DedupOps.qContaminationPairs(spark, sf).collect()
      .map(_.getLong(1)).toSet
    assert(pairsTrain.subsetOf(flagged),
      s"pair-report train docs must be decontaminate-flagged: ${pairsTrain -- flagged}")
    val bounds = DedupOps.qContaminationPairs(spark, sf).collect()
    bounds.foreach { r =>
      assert(r.getLong(3) >= DedupOps.ContaminationMinBp && r.getLong(3) <= 10000L)
      assert(r.getLong(4) <= DedupOps.ContaminationTopK)
    }
  }

  test("qWeightedJaccard: hand replay on the strongest pair; clones score exactly 1.0; repetition-inflated clone drops below its set jaccard") {
    val s = spark
    import s.implicits._
    val rows = DedupOps.qWeightedJaccard(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def tf(id: Long): Map[String, Int] =
      docs(id).trim.split("\\s+").toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    for (r <- rows) {
      val (a, b, w) = (r.getLong(0), r.getLong(1), r.getDouble(4))
      val (ta, tb) = (tf(a), tf(b))
      val inter = (ta.keySet & tb.keySet).toSeq.map(t => math.min(ta(t), tb(t))).sum
      val union = ta.values.sum + tb.values.sum - inter
      assert(r.getLong(3) === inter.toLong, s"pair ($a,$b) w_inter")
      assert(math.abs(w - inter.toDouble / union) < 1e-12, s"pair ($a,$b) w_jaccard")
      assert(w >= 0.0 && w <= 1.0 + 1e-12)
    }
    // planted: X, its byte clone (weighted 1.0) and its 3x-repeated
    // variant — set-jaccard-identical to X but weighted ~= 1/3
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val tripled = Seq(base, base, base).mkString(" ")
    val planted = Seq(
      (1L, "en", base.length.toLong, "plant", base),
      (2L, "en", base.length.toLong, "plant", base),
      (3L, "en", tripled.length.toLong, "plant", tripled))
      .toDF("doc_id", "lang", "n_chars", "source", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-wjac").toString
    planted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupOps.qWeightedJaccard(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(4))).toMap
    assert(got((1L, 2L))._2 === 1.0, "byte clones score weighted 1.0 exactly")
    val (setJ, wJ) = got((1L, 3L))
    // near-set-identical: the 3x repeat adds only the two wrap-around
    // boundary shingles (38 shared / 40 union = 0.95)
    assert(setJ >= 0.9, s"tripled doc must stay near-set-identical: $setJ")
    assert(math.abs(wJ - 40.0 / 120.0) < 1e-9,
      s"weighted jaccard must see the 3x repetition: $wJ")
  }

  test("qEmbedOutliers: exact stats replay; a planted 5x-norm vector is the only flag; zero-variance label scores 0") {
    val s = spark
    import s.implicits._
    // fixture replay: per-label (n, Σx, Σx²) from the collected norm_q
    // must reproduce z² and the 3σ flag exactly
    val rows = SimilarityOps.qEmbedOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(rows.length.toLong === Tables.embeddings(spark, sf).count())
    val byLabel = rows.groupBy(_._2)
    for ((_, g) <- byLabel) {
      val n = BigInt(g.length)
      val s1 = g.map(r => BigInt(r._3)).sum
      val s2 = g.map(r => BigInt(r._3) * BigInt(r._3)).sum
      val rhs = n * s2 - s1 * s1
      for ((_, _, x, z2, flag) <- g) {
        val dev = n * BigInt(x) - s1
        val lhs = dev * dev
        if (rhs == 0) assert(z2 === 0.0 && flag === 0L)
        else {
          assert(math.abs(z2 - lhs.toDouble / rhs.toDouble) < 1e-9,
            s"z2 replay: $z2 vs ${lhs.toDouble / rhs.toDouble}")
          assert(flag === (if (lhs > rhs * 9) 1L else 0L), "3-sigma gate replay")
        }
      }
    }
    // planted: 19 near-unit vectors + one 5x-norm rogue in label 0, plus
    // a zero-variance label 1 (identical vectors)
    val unit = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val rogue = unit.map(_ * 5.0f)
    val planted = ((0 until 19).map(i =>
        (i.toLong, unit.map(v => v + i * 1e-4f).toSeq, 0)) :+
        (19L, rogue.toSeq, 0)) ++
      (20 until 24).map(i => (i.toLong, unit.toSeq, 1))
    val tmp = java.nio.file.Files.createTempDirectory("graft-embout").toString
    planted.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = SimilarityOps.qEmbedOutliers(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3), r.getLong(4))).toMap
    assert(got(19L)._3 === 1L, s"the 5x-norm vector must flag: ${got(19L)}")
    assert((0L until 19L).forall(got(_)._3 === 0L), "near-unit peers stay clean")
    assert((20L until 24L).forall(i => got(i)._2 === 0.0 && got(i)._3 === 0L),
      "zero-variance label scores 0 by definition")
  }

  test("qShardIngestReport: planted clones attribute to the exact and near columns; fixture masses conserve") {
    val s = spark
    import s.implicits._
    // history: docs 1-3; shard: 10/30 byte clones of hist doc 1, 20 novel
    val donor = "the quick brown fox jumps over the lazy dog near the river bank today"
    val planted = Seq(
      (1L, "en", donor.length.toLong, "plant", donor),
      (2L, "en", 40L, "plant", "completely different content about spark catalyst plans"),
      (3L, "en", 40L, "plant", "yet another unrelated historical document body text"),
      (10L, "en", donor.length.toLong, "plant", donor),
      (20L, "en", 40L, "plant", "a fresh crawl document sharing nothing with history"),
      (30L, "en", donor.length.toLong, "plant", donor))
      .toDF("doc_id", "lang", "n_chars", "source", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    planted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupOps.qShardIngestReport(spark, tmp).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getString(0) === "plant")
    assert(r.getLong(1) === 3L, "three shard docs")
    assert(r.getLong(3) === 2L, s"both clones are exact dups: $r")
    assert(r.getLong(4) === 2L, s"both clones are near dups too: $r")
    assert(r.getLong(5) === 1L && r.getLong(6) === 3333L,
      s"doc 20 is the one novel arrival: $r")
    // fixture conservation: per-source doc counts sum to the shard size,
    // novel excludes every doc either column claims
    val f = DedupOps.qShardIngestReport(spark, sf).collect()
    val shardN = Tables.documents(spark, sf)
      .filter(col("doc_id") % DedupOps.IncrementalShardMod === 0).count()
    assert(f.map(_.getLong(1)).sum === shardN, "shard doc mass conserves")
    f.foreach { r =>
      assert(r.getLong(5) >= r.getLong(1) - r.getLong(3) - r.getLong(4),
        "novel can't under-count the union bound")
      assert(r.getLong(5) <= r.getLong(1) - math.max(r.getLong(3), r.getLong(4)),
        "novel excludes every flagged doc")
    }
  }

  test("qDedupIncremental equals the batch MinHash run restricted to new-shard pairs") {
    // The operator's correctness claim: probing the persisted index is
    // bit-equal to running batch LSH over the full corpus and keeping
    // pairs with a new-shard endpoint (same band keys, same first-K
    // bucket cap over the union, same jaccard verify).
    val mod = DedupOps.IncrementalShardMod
    val inc = DedupOps.qDedupIncremental(spark, sf)
    val exp = DedupOps.qDedupMinhashPairs(spark, sf)
      .filter(col("doc_a") % mod === 0 || col("doc_b") % mod === 0)
      .select(col("doc_a"), col("doc_b"),
        when(col("doc_a") % mod === 0 && col("doc_b") % mod === 0, "intra")
          .otherwise("cross").as("pair_kind"),
        col("jaccard"))
    assert(inc.exceptAll(exp).count() === 0)
    assert(exp.exceptAll(inc).count() === 0)
  }

  test("IVF centroid cache keys on embeddings CONTENT: unchanged fixture hits, regenerated fixture refits") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfcache").toString
    // 64 dims: the PQ codebooks held beside the centroids split 4 x 16
    def writeEmb(seed: Long): Unit = {
      val rnd = new scala.util.Random(seed)
      (0L until 64L).map(i => (i, Array.fill(64)(rnd.nextFloat())))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    }
    writeEmb(seed = 1)
    val c1 = SimilarityOps.ivfModelCentroids(spark, tmp)
    val p1 = SimilarityOps.pqCodebooks(spark, tmp)
    // same content -> cache hit (the SAME array instance, no refit)
    assert(SimilarityOps.ivfModelCentroids(spark, tmp) eq c1)
    assert(SimilarityOps.pqCodebooks(spark, tmp) eq p1)
    // regenerate the fixture AT THE SAME PATH with different content:
    // the content fingerprint changes (new part-file names/sizes), so
    // the cache must REFIT instead of serving seed-1 centroids — the
    // staleness the (session, dir)-keyed cache used to allow
    writeEmb(seed = 2)
    val c2 = SimilarityOps.ivfModelCentroids(spark, tmp)
    assert(!(c2 eq c1) && c2.flatten.toSeq != c1.flatten.toSeq,
      "regenerated embeddings must produce freshly fitted centroids")
    val p2 = SimilarityOps.pqCodebooks(spark, tmp)
    assert(!(p2 eq p1) && p2.flatten.flatten != p1.flatten.flatten,
      "regenerated embeddings must produce freshly fitted PQ codebooks")
  }
}
