package graft.operators

import graft.Tables._
import graft.functions.TextFunctions._
import graft.functions.VectorExpressions.{cosineSim, dotProd}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (`Array[Float]`, dim 64).
  *
  * Scale posture: the brute-force path broadcasts the (tiny) probe set and
  * streams once over the corpus — no shuffle of the big side, linear in
  * corpus size, which is exactly how a 100 TB top-k scan should look. The
  * LSH path buckets by sign patterns of fixed hyperplanes so candidate
  * generation is a bucket-key join instead of a cross product.
  */
object SimilarityOps {

  val ProbeCount = 5
  val TopK = 10

  /** The probe set every ANN search runs: the vectors with
    * `vec_id < ProbeCount` of a `(vec_id, embedding, …)` frame as
    * `(probe_id, probe_emb)`, plus `extra` columns over the same rows
    * (list ids, bucket keys, lookup tables). */
  private def probeFrame(vecs: DataFrame, extra: Column*): DataFrame =
    vecs.filter(col("vec_id") < ProbeCount)
      .select(col("vec_id").as("probe_id") +: col("embedding").as("probe_emb") +: extra: _*)

  /** Each probe's [[TopK]] best candidates of a `(probe_id, vec_id, cos)`
    * frame: long `rank` by cosine descending, vec_id ascending breaking
    * ties, so every search ranks with the same total order. */
  private def topKPerProbe(cands: DataFrame): DataFrame =
    cands.withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= TopK)

  /** Brute-force cosine top-k: probes (vec_id < ProbeCount) broadcast
    * against every vector; rank per probe with deterministic tiebreak.
    * All math in double after exact float widening (oracle-reproducible).
    */
  def qAnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val all = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    topKPerProbe(all.join(broadcast(probeFrame(all)), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          r4(cosineSim(col("probe_emb"), col("embedding"))).as("cos")))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Label-bucket population cap for [[qEmbedNeardup]]: the bucket
    * self-join is quadratic in bucket POPULATION, which grows linearly
    * with the corpus at fixed label cardinality (the ×10 probe measured
    * slope 46). Same clamp as the LSH band caps
    * ([[graft.operators.DedupOps.MinhashBandCap]]): each label keeps its
    * `cap` smallest vec_ids (deterministic — vec_id is unique), pairs
    * come from the kept set only, and the oracle applies the identical
    * first-K filter so the entry stays hash-checked. 512 sits above any
    * driver-scale label population (max 218 at sf0.1) and bounds the
    * candidate term at |labels|·C(cap,2) beyond it; at true corpus scale
    * the production route is the sign-LSH/IVF candidate tables
    * ([[qAnnLsh]]/[[qAnnIvf]]) — this cap keeps the bucketed variant
    * safe to run anywhere.
    */
  val NeardupLabelCap = 512

  /** Embedding-cosine near-duplicate pairs, candidates bucketed by label
    * (the cluster id a real pipeline would get from coarse quantization)
    * with the per-label population cap above: top-20 most-similar pairs.
    * Never O(n²) across buckets, never unbounded within one.
    */
  def qEmbedNeardup(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("vec_id"))))
      .filter(col("_rk") <= NeardupLabelCap)
      .drop("_rk")
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").cast("long").as("label"),
        r4(cosineSim(col("a.embedding"), col("b.embedding"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(20)
  }

  /** Fixed random hyperplanes for sign-LSH, generated once on the driver
    * with a seeded RNG and baked into the plan as literals (the IVF-style
    * scale path: bucket assignment is a narrow projection, search touches
    * only the probe's bucket).
    */
  private def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(42)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Squared L2 distance of a double-array column to a literal centroid —
    * a narrow codegen projection (‖v‖² − 2 v·c + ‖c‖²). */
  private def dist2(vec: Column, c: Array[Double]): Column = {
    val cc = array(c.map(lit): _*)
    dotProd(vec, vec) - lit(2.0) * dotProd(vec, cc) + lit(c.map(x => x * x).sum)
  }

  /** The `n` nearest inverted-list ids for a vector, over literal
    * centroids (in-row array_sort — no shuffle, no UDF). Shared by the
    * IVF search, the IVF+PQ search, and the recall sweep. */
  private def ivfNearestLists(centroids: Array[Array[Double]])(
      vec: Column, n: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(dist2(vec, c).as("d"), lit(i).as("i"))
    }: _*)
    slice(transform(array_sort(scored), s => s.getField("i")), 1, n)
  }

  /** Lists each IVF probe searches. */
  val IvfProbes = 4

  /** Models fitted on one directory's embeddings (the IVF coarse
    * quantizer, the PQ codebooks), keyed by (model, embeddings path) and
    * holding (content fingerprint, model). The table's CONTENT
    * fingerprint (names/sizes/mtimes — the identity the persisted minhash
    * index uses), not (session, dir), decides a hit: a fixture
    * regenerated at the same path within one process refits instead of
    * serving stale centroids, and REPLACES its path's entry, so the map
    * holds one model per path however often a fixture is rewritten.
    * Values are plain double arrays — never a (possibly stopped)
    * SparkSession reference. The fits are seeded, so a concurrent
    * double-fit is benign.
    */
  private val embeddingModels = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, AnyRef)]()

  /** `fit` over the embeddings' bounded DETERMINISTIC fit sample
    * (id-range, not limit(): an unordered limit takes whichever rows
    * arrive first and would break cross-run reproducibility), once per
    * content of `dir`'s embeddings. The models are tiny regardless of
    * corpus size. */
  private def fittedOnEmbeddings[T <: AnyRef](model: String, spark: SparkSession,
      dir: String)(fit: DataFrame => T): T = {
    val path = s"$dir/embeddings.parquet"
    val fp = graft.Tables.contentFingerprint(path)
    embeddingModels.compute((model, path), { (_, prev) =>
      if (prev != null && prev._1 == fp) prev
      else (fp, fit(embeddings(spark, dir).filter(col("vec_id") < 2000)))
    })._2.asInstanceOf[T]
  }

  /** Centroids of a seeded KMeans over the vector column `fv`. */
  private def kmeansCenters(fv: DataFrame, k: Int, seed: Long): Array[Array[Double]] =
    new KMeans().setK(k).setSeed(seed).setFeaturesCol("fv")
      .fit(fv).clusterCenters.map(_.toArray)

  /** Coarse IVF quantizer for `dir`: k=16 seeded KMeans over the fit
    * sample — the one quantizer [[qAnnIvf]], [[qAnnIvfPq]] and
    * [[qAnnRecallSweep]] all search. */
  private[graft] def ivfModelCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    fittedOnEmbeddings("ivf", spark, dir) { sample =>
      kmeansCenters(sample.select(array_to_vector(toDouble(col("embedding"))).as("fv")),
        k = 16, seed = 42)
    }

  /** IVF-bucketed approximate nearest neighbors — the data-adaptive scale
    * path. The coarse quantizer ([[ivfModelCentroids]]) assigns every
    * vector to its nearest centroid's inverted list; each probe searches
    * only its [[IvfProbes]] closest lists. At corpus scale the lists are
    * the partitioning: a probe touches nprobe/k of the data. Centroids
    * come from an MLlib fit → rows-only check.
    */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("ann_ivf", spark, dir) {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val nearestLists = ivfNearestLists(ivfModelCentroids(spark, dir)) _
    val lists = e.select(col("vec_id"), col("embedding"),
      nearestLists(col("embedding"), 1).getItem(0).as("list_id"))
    val probes = probeFrame(e, explode(nearestLists(col("embedding"), IvfProbes)).as("list_id"))
    topKPerProbe(lists.join(broadcast(probes), Seq("list_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("list_id"),
          r4(cosineSim(col("probe_emb"), col("embedding"))).as("cos")))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Embedding-QA outlier gate: per vector, the squared z-score of its
    * L2 norm against its LABEL's population, 3σ flag — the screen that
    * catches broken encodings before they poison an index (a zeroed-out
    * or exploded vector has a wildly deviant norm long before any
    * recall metric notices). The q_peer_anomaly numeric discipline:
    * norms quantize to exact integer micro-units via floor (tie-free,
    * bit-identical), per-label (n, Σx, Σx²) accumulate in DECIMAL, and
    * the 3σ decision is the pure-integer comparison
    * (n·x − Σx)² > 9·(n·Σx² − (Σx)²) — no float ever enters the flag.
    * z² itself is emitted as ONE IEEE division of the two exact decimal
    * operands (unrounded, q_centroid_sim policy). Zero-variance labels
    * score 0 / not-outlier by definition. One narrow projection + one
    * ǀlabelsǀ-row stats rollup attached by label-keyed join — scan-bound.
    */
  def qEmbedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val normQ = floor(sqrt(dotProd(col("embedding"), col("embedding"))) * 1e6)
      .cast("decimal(19,0)")
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        normQ.as("x"))
    // operand widths sized so every product stays ≤ DECIMAL(38) AT TYPE
    // level (DuckDB rejects wider products at bind time, Spark would
    // silently truncate precision): n ≤ 1e18, Σx ≤ 1e19, Σx² ≤ 1e19 —
    // headroom ≥ 10× beyond the ×100 fixture
    val stats = e.groupBy(col("label"))
      .agg(count(lit(1)).cast("decimal(18,0)").as("n"),
        sum(col("x")).cast("decimal(19,0)").as("s1"),
        sum(col("x") * col("x")).cast("decimal(19,0)").as("s2"))
    val dev = (col("n") * col("x") - col("s1")).cast("decimal(19,0)")
    val lhs = (dev * dev).cast("decimal(38,0)")
    // each product cast to 37 digits before the subtraction and the ×9 so
    // every intermediate TYPE stays inside DECIMAL(38) on both engines
    val rhs = ((col("n") * col("s2")).cast("decimal(37,0)") -
      (col("s1") * col("s1")).cast("decimal(37,0)")).cast("decimal(37,0)")
    e.join(stats, Seq("label"))
      .select(col("vec_id"), col("label"), col("x").cast("long").as("norm_q"),
        when(rhs === 0, lit(0.0))
          .otherwise(lhs.cast("double") / rhs.cast("double")).as("z2"),
        when(rhs === 0, lit(0L))
          .otherwise((lhs > (rhs * lit(9)).cast("decimal(38,0)")).cast("long"))
          .as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** nprobe settings the recall sweep measures (16 = every list — the
    * degenerate-to-brute-force anchor the spec pins at recall 10⁴ bp). */
  val SweepNprobes: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** IVF recall/cost calibration sweep — the table that SIZES nprobe
    * before committing a billion-vector search deployment (the ANN twin
    * of q_minhash_calibration's sketch-trust table): for each nprobe,
    * mean recall@10 against the exact brute-force ground truth and the
    * fraction of the corpus the probe actually scanned. Reads as "paying
    * X% of a full scan buys Y recall". One candidate frame is built with
    * each vector labeled by the RANK of the probe list that found it
    * (candidate visible at nprobe ≥ rank), so all five settings share a
    * single join; recall and scan fractions are exact integer basis
    * points from overlap/row counts. Seeded KMeans quantizer (the same
    * [[ivfModelCentroids]] fit [[qAnnIvf]] searches) → rows-only; the spec pins
    * recall monotone in nprobe and EXACTLY 10⁴ bp at nprobe = k, where
    * visiting every list degenerates to [[qAnnBrute]] by construction.
    */
  def qAnnRecallSweep(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("ann_recall_sweep", spark, dir) {
      val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val centroids = ivfModelCentroids(spark, dir)
      val nearestLists = ivfNearestLists(centroids) _
      val lists = e.select(col("vec_id"), col("embedding"),
        nearestLists(col("embedding"), 1).getItem(0).as("list_id"))
      val probes = probeFrame(e,
        posexplode(nearestLists(col("embedding"), centroids.length)).as(Seq("lr", "list_id")))
      val cand = lists.join(broadcast(probes), Seq("list_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          (col("lr") + 1).cast("long").as("list_rank"),
          r4(cosineSim(col("probe_emb"), col("embedding"))).as("cos"))
        .cache()
      val brute = qAnnBrute(spark, dir).select(col("probe_id"), col("vec_id"))
      val nVec = e.count()
      // 5 bounded driver-side measurements over the one cached candidate
      // frame — a constant number of jobs, not a per-row loop
      val rows = SweepNprobes.map { np =>
        val vis = cand.filter(col("list_rank") <= np)
        val hits = topKPerProbe(vis)
          .join(brute, Seq("probe_id", "vec_id"), "left_semi").count()
        (np.toLong, hits, vis.count())
      }
      cand.unpersist()
      val s = spark
      import s.implicits._
      rows.toDF("nprobe", "n_hits", "n_candidates")
        .select(col("nprobe"), lit(ProbeCount.toLong).as("n_probes"),
          col("n_hits"), col("n_candidates"),
          expr(s"n_hits * 10000 div ${ProbeCount.toLong * TopK}").as("recall_bp"),
          expr(s"n_candidates * 10000 div ${ProbeCount.toLong * nVec}")
            .as("scanned_bp"))
        .orderBy(col("nprobe"))
    }

  /** Multi-table LSH: number of hash tables × sign bits per table.
    * Recall of single-table sign-LSH decays as (p_agree)^bits; running L
    * independent tables and unioning their candidates recovers it
    * (miss probability decays exponentially in L) — the standard
    * recall/cost dial. 8×4 measures ~0.6 recall@10 at sf0.01 vs 0.08 for
    * the old single 4-bit table, while each probe still touches only
    * L/2^bits ≈ half the corpus in expectation instead of all of it.
    */
  val LshTables = 8
  val LshBits = 4

  /** LSH-bucketed approximate nearest neighbors: [[LshTables]] independent
    * sign-hash tables of [[LshBits]] bits; a probe searches the union of
    * its buckets across tables (deduped), never the full corpus. Recall
    * is partial by design — that's the approximation trade — so this
    * stays rows-only (no SQL oracle): the bucketing RNG isn't
    * reproducible in ANSI SQL.
    */
  def qAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val planes = hyperplanes(LshTables * LshBits, 64)
    def tableSig(t: Int) =
      (0 until LshBits).foldLeft(lit(0L)) { (acc, i) =>
        val planeCol = array(planes(t * LshBits + i).map(lit): _*)
        acc.bitwiseOR(when(dotProd(col("embedding"), planeCol) > 0,
          shiftleft(lit(1L), i)).otherwise(0L))
      }
    // one (table:bucket) key per table per vector — same explode-band
    // blocking shape as the SimHash pair join
    val keys = explode(array((0 until LshTables).map(t =>
      concat(lit(s"$t:"), tableSig(t).cast("string"))): _*)).as("bucket")
    // spread: the embeddings fixture arrives as one parquet split, which
    // ran the 8-table signature projection + bucket join + dedup on a
    // single core (r16 profile: 1-task ~0.5 s stage); the exchange moves
    // |corpus| narrow rows once and is a no-op at scale (splits ≥ cores).
    val all = spread(spark, embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"), keys)
    val probes = probeFrame(all, col("bucket"))
    topKPerProbe(all.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      // score BEFORE deduplicating: cos is deterministic per pair, so a
      // pair sharing several tables still yields one distinct row — but
      // the dedup exchange now carries (probe, vec, cos) scalars instead
      // of two 64-float embedding payloads (r16; guide: shuffle keys and
      // metadata, not payloads — the duplicate-side cosines it recomputes
      // are a few thousand 64-mult folds, far cheaper than hashing and
      // shuffling 512-byte rows).
      .select(col("probe_id"), col("vec_id"),
        r4(cosineSim(col("probe_emb"), col("embedding"))).as("cos"))
      .distinct()) // a pair sharing several tables is verified once
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Embedding-corpus profile: per label, vector count, distinct
    * dimensionalities (a health check — mixed dims break every ANN
    * index), and L2-norm stats via the codegen
    * [[graft.functions.VectorExpressions.dotProd]] (‖v‖ = √(v·v), no
    * interpreted HOF in the hot loop). The sanity scan an embedding
    * pipeline runs before building an index; one narrow pass + one
    * label-keyed aggregation.
    */
  def qEmbedStats(spark: SparkSession, dir: String): DataFrame = {
    val v = col("embedding")
    embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        sqrt(dotProd(v, v)).as("norm"), size(v).as("dim"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("dim")).as("n_dims"),
        r4(avg(col("norm"))).as("avg_norm"),
        r4(min(col("norm"))).as("min_norm"),
        r4(max(col("norm"))).as("max_norm"))
      .orderBy(col("label"))
  }

  /** Product-quantization geometry: subvector count × dims, codebook
    * size. 64 float32 → 4 one-byte codes = 64× compression. */
  val PqSub = 4
  val PqDims = 16
  val PqK = 16

  /** Subvector `s` of a float-array embedding as doubles: dims
    * s·[[PqDims]] until (s+1)·[[PqDims]]. */
  private def subvector(vec: Column, s: Int): Column =
    toDouble(slice(vec, s * PqDims + 1, PqDims))

  /** The [[PqSub]] per-subspace PQ codebooks for `dir`: seeded KMeans
    * (k = [[PqK]], seed 42 + s) over each subvector of the fit sample,
    * held beside the IVF quantizer — the one codebook set [[qPqCodes]]
    * emits and [[qAnnIvfPq]] searches. */
  private[graft] def pqCodebooks(spark: SparkSession,
      dir: String): IndexedSeq[Array[Array[Double]]] =
    fittedOnEmbeddings("pq", spark, dir) { sample =>
      (0 until PqSub).map(s => kmeansCenters(
        sample.select(array_to_vector(subvector(col("embedding"), s)).as("fv")),
        k = PqK, seed = 42 + s))
    }

  /** Nearest code of a subvector: the `(d, i)` struct of the closest of
    * the literal centroids, as one sorted struct array (codegen'd dotProd
    * inside). */
  private def bestCode(vec: Column, cents: Array[Array[Double]]): Column =
    array_sort(array(cents.zipWithIndex.map { case (c, i) =>
      struct(dist2(vec, c).as("d"), lit(i.toLong).as("i"))
    }: _*)).getItem(0)

  /** IVF + PQ asymmetric-distance search (the composed billion-vector ANN
    * architecture: IVF picks which inverted lists to visit, PQ makes the
    * in-list scan read 4 bytes per vector instead of 256): probes search
    * their [[IvfProbes]] closest lists of [[ivfModelCentroids]] (the
    * quantizer [[qAnnIvf]] searches), rank candidates by PQ asymmetric
    * distance over [[pqCodebooks]] (the codes [[qPqCodes]] emits; per-probe
    * lookup table of probe-subvector→centroid distances, summed via
    * element_at over the 4 stored codes — the ADC trick), shortlist 4×k,
    * then re-rank ONLY the shortlist with exact cosine. At corpus scale
    * the exact re-rank touches 4k vectors per probe no matter how big the
    * lists are; everything upstream of it is a narrow codegen projection
    * + one broadcast join. Seeded fits → rows-only; the spec asserts a
    * recall floor vs [[qAnnBrute]].
    */
  def qAnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("ann_ivfpq", spark, dir) {
      val shortlist = 4 * TopK
      val withSubs = embeddings(spark, dir).select(col("vec_id") +: col("embedding") +:
        (0 until PqSub).map(s => subvector(col("embedding"), s).as(s"sub_$s")): _*)
      val nearestLists = ivfNearestLists(ivfModelCentroids(spark, dir)) _
      val codebooks = pqCodebooks(spark, dir)
      // stored index: list id + 4 one-byte codes per vector (narrow)
      val indexed = withSubs.select(
        col("vec_id") +: col("embedding") +:
          nearestLists(col("embedding"), 1).getItem(0).as("list_id") +:
          (0 until PqSub).map(s =>
            bestCode(col(s"sub_$s"), codebooks(s)).getField("i").as(s"code_$s")): _*)
      // per-probe ADC lookup tables: distance from the probe's subvector
      // to each of the 16 centroids, one 16-float array per subspace
      val probes = probeFrame(withSubs,
        explode(nearestLists(col("embedding"), IvfProbes)).as("list_id") +:
          (0 until PqSub).map(s =>
            array(codebooks(s).map(c => dist2(col(s"sub_$s"), c)): _*).as(s"adc_$s")): _*)
      val approxDist = (0 until PqSub).map(s =>
        element_at(col(s"adc_$s"), col(s"code_$s").cast("int") + 1)).reduce(_ + _)
      val wApprox = Window.partitionBy(col("probe_id"))
        .orderBy(col("approx_dist").asc, col("vec_id").asc)
      topKPerProbe(indexed.join(broadcast(probes), Seq("list_id"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), col("probe_emb"), col("embedding"),
            approxDist.as("approx_dist"))
          .withColumn("pq_rank", row_number().over(wApprox))
          .filter(col("pq_rank") <= shortlist)
          .select(col("probe_id"), col("vec_id"),
            r4(cosineSim(col("probe_emb"), col("embedding"))).as("cos")))
        .orderBy(col("probe_id"), col("rank"))
    }

  /** Product quantization (Jégou 2011): split each embedding into
    * [[PqSub]] subvectors, code each against its subspace's seeded
    * KMeans codebook ([[pqCodebooks]]), emit the per-vector code word +
    * exact reconstruction error — the compressed-index path that makes
    * billion-vector ANN fit in RAM (IVF picks the lists, PQ shrinks
    * what's inside them). Assignment + error are narrow projections
    * against literal centroids — scan-speed at any corpus size, nothing
    * but the tiny models on the driver.
    */
  def qPqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("pq_codes", spark, dir) {
      val codebooks = pqCodebooks(spark, dir)
      val e = embeddings(spark, dir).select(col("vec_id") +:
        (0 until PqSub).map(s => subvector(col("embedding"), s).as(s"sub_$s")): _*)
      val coded = e.select(col("vec_id") +: (0 until PqSub).map(s =>
        bestCode(col(s"sub_$s"), codebooks(s)).as(s"best_$s")): _*)
      coded.select(
        col("vec_id") +:
          (0 until PqSub).map(s => col(s"best_$s").getField("i").as(s"code_$s")) :+
          // clamp: an exact centroid hit can go -1e-16 in float arithmetic
          r4(greatest(lit(0.0), (0 until PqSub).map(s => col(s"best_$s").getField("d"))
            .reduce(_ + _))).as("recon_err"): _*)
        .orderBy(col("vec_id"))
    }

  /** Int8 scalar quantization of the embedding column — the SQ8
    * compression step a billion-vector index applies before anything
    * else (4× smaller than float32, dequantizes with one multiply-add).
    * Per-dimension codebook (min, max) from ONE tiny aggregation
    * (|dims| rows → a 1-row broadcast of two arrays); codes are
    * explicit half-up `floor(x·255/range + 0.5)` so both engines round
    * identically; the report is per-vector reconstruction RMSE and max
    * per-dim error, summed IN INDEX ORDER on both engines (Spark
    * `aggregate` over the array, DuckDB `list_sum` over a built list)
    * so float accumulation can't drift across engines. The quantization
    * itself is a codegen'd narrow projection — at 100 TB this is a
    * single map-only pass.
    */
  def qEmbedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val dims = e.select(posexplode(toDouble(col("embedding"))).as(Seq("pos", "v")))
    val stats = dims.groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("mns"),
        array_sort(collect_list(struct(col("pos"), col("mx")))).as("mxs"))
      .select(transform(col("mns"), s => s.getField("mn")).as("mn_arr"),
        transform(col("mxs"), s => s.getField("mx")).as("mx_arr"))
    val emb = toDouble(col("embedding"))
    val rngArr = zip_with(col("mx_arr"), col("mn_arr"), (a, b) => a - b)
    val codes = zip_with(zip_with(emb, col("mn_arr"), (v, mn) => v - mn), rngArr,
      (nv, rng) => when(rng > 0,
        least(greatest(floor(nv / rng * 255 + 0.5), lit(0.0)), lit(255.0)))
        .otherwise(lit(0.0)))
    val deq = zip_with(zip_with(codes, rngArr, (c, r) => c / lit(255.0) * r),
      col("mn_arr"), (d, mn) => d + mn)
    val errs = zip_with(emb, deq, (v, d) => (v - d) * (v - d))
    e.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        r4(sqrt(aggregate(errs, lit(0.0), (acc, x) => acc + x)
          / size(col("embedding")))).as("rmse"),
        r4(sqrt(array_max(errs))).as("max_err"))
      .orderBy(col("vec_id"))
  }

  /** Cosine threshold above which two same-cluster embeddings are
    * semantic duplicates ([[qSemanticDedup]]). */
  val SemDedupTau = 0.9

  /** SemDeDup (Abbas 2023): embedding-space near-duplicate PRUNING —
    * cluster the corpus with a seeded KMeans coarse quantizer, then
    * within each cluster drop every vector that has a more-senior
    * (smaller-id) neighbor above [[SemDedupTau]] cosine. Textually
    * distinct rewrites of the same content land in the same cluster with
    * high cosine, which MinHash/SimHash ([[DedupOps]]) can never see —
    * this is the semantic layer of the dedup ladder.
    *
    * Scale shape is SemDeDup's own recipe: the quadratic term is bounded
    * per CLUSTER, and in production k grows with the corpus so cluster
    * size stays constant — candidate generation is a cluster-keyed
    * self-join, never all-pairs. The survivor rule (min-id neighbor)
    * needs no iteration, unlike the connected-components labeling of
    * [[DedupOps.qDedupClusters]]: one join, one per-victim aggregate.
    */
  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("semantic_dedup", spark, dir) {
      semanticDedupFrame(
        embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        SemDedupTau)
    }

  /** Target DISTINCT-vector population per SemDeDup quantizer cell: k is
    * derived as ⌈distinct/128⌉ (clamped to [16, 4096]), which is
    * SemDeDup's own scale recipe — "k grows with the corpus so cluster
    * size stays constant". The within-cluster pair term is then bounded
    * at ~C(128,2) per cell instead of growing quadratically with the
    * corpus (the ×10 probe measured slope 29 on the fixed-k=16 plan).
    */
  val SemTargetCell = 128

  /** [[qSemanticDedup]]'s body over an explicit `(vec_id, embedding)`
    * frame — package-visible so the spec can plant known duplicates and
    * assert the verdicts directly.
    *
    * Two scale guards retire the measured quadratic term:
    *  1. EXACT-CLONE COLLAPSE (the containment cloneKeyed pattern,
    *     [[graft.operators.DedupOps]]): byte-identical embeddings get one
    *     group key (md5 of the stringified components) and are
    *     represented ONCE — min vec_id — in candidate generation. A
    *     dup-heavy corpus (the ×10 fixture: every vector has F exact
    *     clones) pays C(F,2) cosine evaluations per clone group
    *     uncollapsed; collapsed it pays its share of one rep-level
    *     evaluation, and clones re-enter only in the output-sized
    *     expansion (each non-rep clone is a dup of its group minimum at
    *     cos exactly 1.0 ≥ any τ — no recall loss at all).
    *  2. CORPUS-SCALED k (see [[SemTargetCell]]) bounds the per-cell
    *     quadratic term on the DISTINCT reps under iid growth.
    * Canonicalization after collapse is hierarchical (documented
    * semantics of this rows-only query): a clone's dup_of is its group
    * minimum; the group minimum's dup_of is its smallest senior REP
    * above τ in its cell — lineage resolves transitively. The quantizer
    * fit runs over the collapsed reps (bounded by the distinct-content
    * population; at true corpus scale this fit is the one step you'd
    * subsample) and assignment uses the fitted model's transform —
    * seeded, so rows-only like every MLlib fit in the suite.
    */
  private[graft] def semanticDedupFrame(e: DataFrame, tau: Double): DataFrame = {
    val keyed = e.select(col("vec_id"), col("embedding"),
      md5(concat_ws(",", transform(col("embedding"), _.cast("string")))).as("ek"))
    // one row per distinct vector; members carry identical arrays so
    // first() is deterministic. Checkpointed: consumed by the count, the
    // fit, the assignment and the pair join.
    val groups = keyed.groupBy(col("ek"))
      .agg(min(col("vec_id")).as("rep_id"), first(col("embedding")).as("embedding"))
      .localCheckpoint()
    val nDistinct = groups.count() // ONE driver scalar, Memo'd per session
    val k = math.max(16, math.min(4096,
      math.ceil(nDistinct.toDouble / SemTargetCell).toInt))
    val withFv = groups.withColumn("fv", array_to_vector(toDouble(col("embedding"))))
    val model = new KMeans().setK(k).setSeed(42)
      .setFeaturesCol("fv").setPredictionCol("list_id")
      .fit(withFv)
    val assigned = model.transform(withFv)
      .select(col("ek"), col("rep_id"), col("embedding"), col("list_id"))
      .localCheckpoint()
    // every (senior, junior) same-cell REP pair above the threshold; the
    // junior rep keeps its SMALLEST senior rep as the canonical dup_of
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.list_id") === col("b.list_id")
          && col("a.rep_id") < col("b.rep_id"))
      .select(col("b.rep_id").as("rep_id"),
        col("a.rep_id").as("senior"),
        cosineSim(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("rep_id"))
      .agg(min(col("senior")).as("dup_of"), max(col("cos")).as("max_cos"))
    // output-sized expansion: reps inherit their rep-level verdict;
    // non-rep clones are dups of their group minimum at cos 1.0
    val repInfo = assigned.select(col("ek"), col("rep_id"), col("list_id"))
      .join(dups, Seq("rep_id"), "left")
    keyed.select(col("vec_id"), col("ek")).join(repInfo, Seq("ek"))
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
        when(col("vec_id") === col("rep_id") && col("dup_of").isNull, 1L)
          .otherwise(0L).as("is_kept"),
        when(col("vec_id") === col("rep_id"), col("dup_of"))
          .otherwise(col("rep_id")).as("dup_of"),
        r4(when(col("vec_id") === col("rep_id"), col("max_cos"))
          .otherwise(lit(1.0))).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** MMR selection size, shortlist width, and relevance/diversity mix. */
  val MmrK = 10
  val MmrShortlist = 64
  val MmrLambda = 0.7

  /** Maximal-marginal-relevance sampling (Carbonell 1998): pick
    * [[MmrK]] vectors that are RELEVANT to a probe but mutually DIVERSE
    * — greedily maximizing λ·rel(x) − (1−λ)·max_{s∈S} cos(x, s). Plain
    * top-k by relevance returns near-clones of the probe; MMR is the
    * de-clumped version every retrieval-augmented sampler uses.
    *
    * The distributed work is the relevance scan + TakeOrdered shortlist
    * ([[MmrShortlist]] rows — per-partition top-k then a k·partitions
    * driver merge, no global sort). The greedy refinement is inherently
    * sequential (each pick changes the next argmax), so it runs on the
    * CONSTANT-size shortlist at the driver — O(k·shortlist) scalar ops
    * on 64 rows, the same bounded-driver-set shape as the probe-set
    * broadcasts. Deterministic: seeded nothing, ties break on vec_id.
    */
  def qMmrSample(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"))
    val shortlist = e.filter(col("vec_id") =!= 0)
      .join(broadcast(probe))
      .select(col("vec_id"), col("embedding"),
        cosineSim(col("probe_emb"), col("embedding")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(MmrShortlist)
      .collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val cand = scala.collection.mutable.ArrayBuffer(shortlist.map { r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2))
    }: _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val pickedEmb = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    while (picked.length < MmrK && cand.nonEmpty) {
      val best = cand.map { case (id, emb, rel) =>
        val maxSim = if (pickedEmb.isEmpty) 0.0
          else pickedEmb.map(p => cos(emb, p)).max
        (id, emb, rel, MmrLambda * rel - (1 - MmrLambda) * maxSim)
      }.minBy { case (id, _, _, mmr) => (-mmr, id) }
      picked += ((best._1, best._3, best._4))
      pickedEmb += best._2
      cand --= cand.filter(_._1 == best._1)
    }
    val s = spark
    import s.implicits._
    picked.toSeq.zipWithIndex.map { case ((id, rel, mmr), i) =>
      ((i + 1).toLong, id, math.rint(rel * 1e4) / 1e4, math.rint(mmr * 1e4) / 1e4)
    }.toDF("rank", "vec_id", "relevance", "mmr_score")
  }

  /** Pairwise cosine similarity between per-label embedding CENTROIDS —
    * the class/source-drift matrix a curation pipeline watches (two
    * sources whose centroids converge are collecting the same content;
    * a label whose centroid drifts from all others is a labeling or
    * ingest anomaly). Fully EXACT cross-engine: each float component
    * widens to double (exact) then rounds once to DECIMAL(16,10)
    * (identical on both engines — a 10-dp tie from a double cannot
    * occur), per-(label, dim) sums accumulate in the natural widened
    * decimal and are FLOOR-quantized to integers at 4dp (see the inline
    * note — floor, not a rounding cast: Spark's decimal downcast rounds
    * HALF_UP while DuckDB's TRUNCATES, so any cast-rounded operand
    * silently diverges in the last digit; floor has no ties and both
    * engines define it identically on exact decimals), and because
    * cosine is scale-invariant the centroid division by n — and the 10⁴
    * quantization factor — cancel: the cosine is computed directly on
    * the exact integer SUM vectors, so the final doubles are
    * bit-identical (verified empirically at three scales) and emitted
    * UNROUNDED per the suite's boundary-safety policy. One narrow
    * explode (dim× rows) + one (label, dim) aggregation with map-side
    * combine + a |labels|²·dim join — scan-shaped at any corpus size.
    *
    * BIT-IDENTITY POPULATION BOUND: the argument above needs every
    * integer handed to a decimal→double cast to be ≤ 2⁵³ (above that,
    * Java's BigDecimal.doubleValue is correctly rounded but DuckDB's
    * int128→double conversion is not guaranteed to be, so a 1-ulp
    * divergence becomes possible). The largest such integers are the
    * dim-summed products sab/saa/sbb ≤ dim·(10⁴·Σ|x|)², so with
    * near-unit vectors (per-component mean |x| ≈ dim^-½) the hash-exact
    * regime holds while per-label population n ≲ √(2⁵³/dim)/10⁴·√dim =
    * √(2⁵³)/10⁴ ≈ 9.5·10³ vectors per label — 19× the ×10 fixture's
    * largest label, verified at every gated scale. Beyond that the
    * production lever is the quantization exponent (each dropped digit
    * buys 10× population at 10× coarser — still 3-significant-digit —
    * centroids), mirrored in the oracle exactly like the population
    * caps; the cosine VALUES stay correct far past the bound (doubles
    * lose ulps, not magnitude) — only the cross-engine hash guarantee
    * narrows.
    */
  def qCentroidSim(spark: SparkSession, dir: String): DataFrame = {
    val comps = embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).as("pos"),
        col("x").cast("double").cast("decimal(16,10)").as("xd"))
    // Accumulate in the NATURAL widened sum type (decimal(26,10) — no
    // downcast, so the non-ANSI overflow→NULL cliff a cast back to
    // (16,10) would hit at ~1e6 per-(label,dim) is unreachable below
    // ~1e16), then floor(·×10⁴) → DECIMAL(18,0): an exact integer both
    // engines agree on digit-for-digit (a rounding CAST would not —
    // Spark rounds HALF_UP, DuckDB truncates), wide enough for
    // |sum| < 10¹⁴ and narrow enough that the pair products (37,0) and
    // product-sums (38,0) stay inside BOTH engines' 38-digit ceiling.
    val sums = comps.groupBy(col("label"), col("pos"))
      .agg(floor(sum(col("xd")) * 10000).cast("decimal(18,0)").as("sv"),
        count(lit(1)).as("n"))
    val a = sums.select(col("label").as("label_a"), col("pos"),
      col("sv").as("sa"), col("n").as("na"))
    val b = sums.select(col("label").as("label_b"), col("pos").as("pos_b"),
      col("sv").as("sb"), col("n").as("nb"))
    a.join(b, col("pos") === col("pos_b") && col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("sa") * col("sb")).as("sab"),
        sum(col("sa") * col("sa")).as("saa"),
        sum(col("sb") * col("sb")).as("sbb"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        // UNROUNDED by policy: the operands are identical exact integers
        // on both engines, so decimal→double (correctly-rounded nearest),
        // sqrt and the divide are IEEE-deterministic — bit-identical —
        // while a final round(·,4) would DISAGREE on .xxxx5 boundaries
        // (Spark HALF_UP on shortest-decimal vs DuckDB scaled rounding).
        (col("sab").cast("double") /
          (sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double"))))
          .as("cosine"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** Embedding-distribution drift monitor: per-DIMENSION Population
    * Stability Index between two corpus splits (even vs odd vec_id — the
    * stand-in for yesterday's embedding batch vs today's). The detector a
    * production embedding pipeline runs after every encoder change or
    * data-mix shift: a dimension whose value distribution moved is a
    * retrain/re-index trigger long before recall visibly degrades.
    *
    * Bin edges are the DYADIC constants ±0.25, ±0.125, 0 — exactly
    * representable in float32 and double, so the float→double widening
    * and the < comparisons are bit-identical cross-engine (no quantile
    * estimation to diverge). Each (dim, split) histogram lands in ONE
    * conditional aggregation — 12 integer counters per dim, no grid join,
    * absent bins are genuine zeros — and the PSI sum over the 6 bins is a
    * FIXED left-to-right expression tree over add-one-smoothed
    * proportions, not a float sum(): deterministic without relying on
    * aggregation order. Scale shape: one narrow posexplode projection +
    * one |dims|-keyed rollup; 100 TB of vectors stream through as a
    * scan-bound partial aggregate with |dims| result rows.
    */
  def qEmbedDrift(spark: SparkSession, dir: String): DataFrame = {
    val nBins = 6
    val binOf = {
      val v = col("v")
      when(v < -0.25, 0).when(v < -0.125, 1).when(v < 0.0, 2)
        .when(v < 0.125, 3).when(v < 0.25, 4).otherwise(5)
    }
    val binned = embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "f")))
      .select((col("pos") + 1).cast("long").as("dim"),
        col("f").cast("double").as("v"), (col("vec_id") % 2 === 0).as("is_a"))
      .select(col("dim"), binOf.as("bin"), col("is_a"))
    val counters = (0 until nBins).flatMap { b =>
      Seq(sum(when(col("bin") === b && col("is_a"), 1L).otherwise(0L)).as(s"ca_$b"),
        sum(when(col("bin") === b && !col("is_a"), 1L).otherwise(0L)).as(s"cb_$b"))
    }
    val agged = binned.groupBy(col("dim")).agg(counters.head, counters.tail: _*)
    val na = (0 until nBins).map(b => col(s"ca_$b")).reduce(_ + _)
    val nb = (0 until nBins).map(b => col(s"cb_$b")).reduce(_ + _)
    val withN = agged.withColumn("n_a", na).withColumn("n_b", nb)
    // Σ over the 6 bins, left-to-right in bin order — same tree in the
    // oracle SQL, so the only float ops are smoothed divides and ln.
    val psi = (0 until nBins).map { b =>
      val pa = (col(s"ca_$b") + lit(1.0)) / (col("n_a") + lit(nBins))
      val pb = (col(s"cb_$b") + lit(1.0)) / (col("n_b") + lit(nBins))
      (pa - pb) * log(pa / pb)
    }.reduce(_ + _)
    withN.select(col("dim"), col("n_a"), col("n_b"), round(psi, 6).as("psi"))
      .orderBy(col("dim"))
  }
}
