package graft.operators

import graft.Tables._
import graft.functions.ShingleHash32
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline.
  *
  * Scale posture: exact dedup is one hash-shuffle on md5(text) (never on
  * the raw text — 16-byte keys, not documents, move through the shuffle).
  * Near-dup never goes O(n²): MinHash-LSH banding turns it into a
  * self-join on small band-bucket keys; SimHash turns it into a join on
  * 16-bit prefix buckets. Signature generation is a narrow projection.
  */
object DedupOps {

  /** Exact duplicate detection: group by content hash, keep the smallest
    * doc_id as survivor. Emits one row per distinct content with the
    * duplicate count — the survivor list IS the deduplicated corpus.
    */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("dup_count"))
      .orderBy(col("content_hash"))

  val MinhashPerms = 12
  val BandsRows = 3 // 4 bands × 3 rows

  /** Band-bucket population caps for the two LSH self-joins. A band
    * bucket holding B documents contributes C(B,2) candidate pairs, so
    * one degenerate bucket (empty docs, a license header, a ×F clone
    * storm) is a Σ|bucket|² bomb exactly like a hot resource in the
    * co-access fold — and it gets the same treatment
    * ([[graft.operators.ThreatOps.CoaccessMaxDegree]],
    * [[ContainmentDfCap]]): keep the CAP smallest doc_ids per bucket
    * (deterministic — doc_id is unique) and pair only those. Candidate
    * generation is then bounded by |buckets|·C(cap,2) regardless of how
    * duplicated the corpus is; pairs whose every shared band is capped
    * away become a recall lower bound (the members dropped are the
    * JUNIORS, so each clone/boilerplate family keeps its survivors).
    * The oracle SQL applies the identical first-K-by-id filter, so the
    * capped entries stay hash-checked, not rows-only. MinHash buckets
    * are tiny on driver data (257 verified pairs at sf0.1) — 128 never
    * binds below a ≥ 32-fold clone storm; SimHash 15-bit bands collide
    * broadly by design (35k verified pairs at sf0.1), so 64 bounds the
    * verification join while keeping hamming-recall on every family's
    * seniors.
    */
  val MinhashBandCap = 128
  val SimhashBandCap = 64

  /** First-`cap` rows per band bucket, by ascending doc_id — the
    * bucket-population clamp of [[bucketPairs]] and the SimHash pair join. */
  private[operators] def capBuckets(banded: DataFrame, bucketCol: String, cap: Int): DataFrame =
    banded
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col(bucketCol)).orderBy(col("doc_id"))))
      .filter(col("_rk") <= cap)
      .drop("_rk")

  /** Capped candidate pairs `(doc_a < doc_b)` of a `(doc_id, bucketCol)`
    * frame: the [[capBuckets]] survivors self-joined on the bucket key,
    * one row per pair however many buckets it shares. The one candidate
    * generator of the MinHash batch queries, the index probe and the
    * media byte-profile bands; the join key is a small bucket id, never
    * the document. */
  private[operators] def bucketPairs(banded: DataFrame, bucketCol: String,
      cap: Int): DataFrame = {
    val bk = capBuckets(banded, bucketCol, cap)
    bk.as("a").join(bk.as("b"),
        col(s"a.$bucketCol") === col(s"b.$bucketCol") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The MinHash signature kernel over a `(doc_id, text, …)` frame: one
    * md5 per distinct word 3-shingle (`hs`, [[ShingleHash32]], once per
    * doc) feeds the affine permutation family `(a_j·h+b_j) mod P`
    * (`mh_0` … `mh_11`, deterministic and literal on both engines).
    * `extra` columns are evaluated over `hs` in the same projection, so
    * a caller that also needs the shingle set or its size never hashes
    * twice. Every MinHash path — batch signatures, index build and
    * probe, the streaming twin — signs documents here.
    */
  private[graft] def signatures(d: DataFrame, extra: Column*): DataFrame =
    d.select(col("doc_id"), ShingleHash32(col("text"), 3).as("hs"))
      .select(Seq(col("doc_id")) ++ extra ++
        (0 until MinhashPerms).map(j => minhash(col("hs"), j).as(s"mh_$j")): _*)

  /** LSH key of band `b` over a [[signatures]] frame: md5 of its 3
    * minima joined by '|'. concat (null-propagating, matching SQL ||),
    * NOT concat_ws: a doc with no shingles must yield a NULL key on both
    * engines, which then never joins. */
  private def bandKey(b: Int): Column = {
    val parts = (0 until BandsRows)
      .map(r => col(s"mh_${b * BandsRows + r}").cast("string"))
      .flatMap(c => Seq(c, lit("|"))).dropRight(1)
    md5(concat(parts: _*))
  }

  /** One `bucket` row per band, "<b>:" + the band key, so equal keys of
    * different bands never meet. `key` defaults to [[bandKey]] over the
    * `mh_` columns; [[minhashVerifiedPairs]] passes the `band_b` columns
    * [[minhashSig]] already holds. */
  private[graft] def bandBuckets(key: Int => Column = bandKey): Column =
    explode(array((0 until MinhashPerms / BandsRows).map(b =>
      concat(lit(s"$b:"), key(b))): _*)).as("bucket")

  /** Per-document signatures and band keys, unordered and Memo.cached:
    * the shingle→md5→12-permutation kernel is the expensive half of every
    * MinHash query, and the pairs join, the cluster edge build and the
    * signature dump all consume it — one pinned copy per (session, dir).
    * 12 permutations in 4 bands of 3: documents agreeing on any full band
    * land in the same LSH bucket in [[qDedupMinhashPairs]].
    */
  private def minhashSig(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("minhashSig", spark, dir) {
      signatures(spread(spark, documents(spark, dir)),
          size(col("hs")).cast("long").as("n_shingles"))
        .select(Seq(col("doc_id"), col("n_shingles")) ++
          (0 until MinhashPerms).map(j => col(s"mh_$j")) ++
          (0 until MinhashPerms / BandsRows).map(b => bandKey(b).as(s"band_$b")): _*)
    }

  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashSig(spark, dir).orderBy(col("doc_id"))

  /** Per-document distinct 3-shingle hash sets ([[sigRows]]), Memo.cached
    * per (session, dir): the verification side of every batch MinHash
    * query. */
  private def shingleSets(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("docShingleHashes", spark, dir) {
      sigRows(spread(spark, documents(spark, dir)))
    }

  /** Unordered verified LSH candidate pairs (doc_a, doc_b, jaccard) —
    * Memo.cached: the ordered pairs dump, the cluster edge build, the
    * calibration and the per-doc dup profile all fold this frame.
    * Candidates come from [[bucketPairs]] over the pinned band keys; the
    * Jaccard verify runs on the shingle hashes, not the shingle strings
    * (the arrays shuffled to the pair join are ~5x narrower and the
    * set-intersect compares longs — same result modulo md5 collisions,
    * mirrored exactly in the oracle).
    */
  private def minhashVerifiedPairs(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("minhashVerifiedPairs", spark, dir) {
      val sig = minhashSig(spark, dir)
      val docs = shingleSets(spark, dir)
      val cand = bucketPairs(
        sig.select(col("doc_id"), bandBuckets(b => col(s"band_$b"))),
        "bucket", MinhashBandCap)
      cand
        .join(docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"), r4(jaccard(col("sh_a"), col("sh_b"))).as("jaccard"))
    }

  /** LSH candidate pairs verified with exact shingle-Jaccard, ordered by
    * similarity. */
  def qDedupMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashVerifiedPairs(spark, dir)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))

  /** Near-dup threshold sweep: candidate-pair and affected-document
    * counts at each Jaccard cut {0.5 … 0.9} — the table a pipeline
    * reads to PICK the dedup threshold before committing to one (how
    * many pairs, touching how many documents, does each cut act on;
    * the knee of n_docs_affected is where near-dup stops being
    * boilerplate removal and starts eating the corpus). Two bounded
    * rollups over the Memo-pinned verified-pair frame every other
    * MinHash consumer shares — zero new corpus-sized shuffles; a ×5
    * threshold explode of a pair-sized frame, never doc×doc. The
    * comparison runs on the hash-verified r4'd jaccard doubles against
    * the same decimal literals on both engines — the invariant is NOT
    * that 0.6/0.7/0.8/0.9 are exactly representable (they aren't), but
    * that Spark and DuckDB round the identical decimal literal to the
    * identical nearest double (IEEE-754 correct rounding both sides),
    * so both engines cut the identical pair set; output is pure
    * integers. Thresholds with zero pairs are definitionally absent on
    * both engines.
    */
  def qDedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val ths = Seq(5000L -> 0.5, 6000L -> 0.6, 7000L -> 0.7, 8000L -> 0.8,
      9000L -> 0.9)
    val jb = minhashVerifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(array(ths.map { case (bp, t) =>
          struct(lit(bp).as("bp"), lit(t).as("t")) }: _*)).as("th"))
      .filter(col("jaccard") >= col("th.t"))
      .select(col("th.bp").as("threshold_bp"), col("doc_a"), col("doc_b"))
    val np = jb.groupBy(col("threshold_bp")).agg(count(lit(1)).as("n_pairs"))
    val nd = jb.select(col("threshold_bp"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold_bp"))
      .agg(countDistinct(col("d")).as("n_docs_affected"))
    np.join(nd, "threshold_bp")
      .select(col("threshold_bp"), col("n_pairs"), col("n_docs_affected"))
      .orderBy(col("threshold_bp"))
  }

  /** MinHash estimator calibration: for every LSH candidate pair, the
    * SKETCH's Jaccard estimate (fraction of the 12 permutation minima
    * that agree) against the EXACT shingle-hash Jaccard, aggregated per
    * estimate decile — the "how much do I trust my sketch" table that
    * decides signature width and band shape before a 100 TB dedup run
    * (more permutations ⇔ tighter deciles; this query measures the
    * trade instead of guessing it). The Memo-pinned verified pairs
    * joined to the pinned signatures on both sides — zero new
    * data-sized shuffles, no candidate chain of its own. Cross-engine
    * exactness: the estimate is the integer agree-count k (decile =
    * ⌊10k/12⌋ in pure integer arithmetic), the exact side is the
    * pairs' r4'd jaccard as DECIMAL(14,4), and each per-decile mean is
    * [[halfUp4]] of an exact integer numerator (Σk, 10⁴·Σdecimal) — no
    * double quotient is ever rounded, so no tie can round apart.
    */
  def qMinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashSig(spark, dir)
    val agree = (0 until MinhashPerms)
      .map(j => when(col(s"sa.mh_$j") === col(s"sb.mh_$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    def bp(c: Column): Column = (c * 10000).cast("long")
    minhashVerifiedPairs(spark, dir)
      .join(sig.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sig.as("sb"), col("sb.doc_id") === col("doc_b"))
      .select(agree.as("n_agree"), col("jaccard").cast("decimal(14,4)").as("exact4"))
      .select(col("n_agree"), col("exact4"),
        r4(lit(1.0) * col("n_agree") / MinhashPerms).cast("decimal(14,4)").as("est4"))
      .groupBy(expr(s"n_agree * 10 div $MinhashPerms").cast("long").as("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_agree")).as("sum_agree"),
        sum(bp(col("exact4"))).as("sum_exact_bp"),
        sum(bp(abs(col("est4") - col("exact4")))).as("sum_abserr_bp"))
      .select(col("decile"), col("n_pairs"),
        halfUp4(col("sum_agree") * 10000, col("n_pairs") * MinhashPerms).as("mean_est"),
        halfUp4(col("sum_exact_bp"), col("n_pairs")).as("mean_exact"),
        halfUp4(col("sum_abserr_bp"), col("n_pairs")).as("mae"))
      .orderBy(col("decile"))
  }

  /** `p / (10⁴·q)` rounded HALF_UP to 4 dp, for a 10⁴-scaled integer
    * numerator `p` and a positive integer count `q`: the integer
    * quotient `(2p + q) div 2q`, then one correctly rounded division by
    * 10⁴. The oracle computes the same integer, so the emitted doubles
    * are bit-equal — where rounding a double quotient on each engine
    * rounds some ties apart (0.96045 → 0.9604 vs 0.9605). */
  private[graft] def halfUp4(p: Column, q: Column): Column =
    call_function("div", p * 2 + q, q * 2) / 10000.0

  /** 60-bit SimHash fingerprint (15 hex chars of md5 → bits 0..59; 16 hex
    * chars would overflow a signed long): per token, hash to 60 bits; sum
    * ±1 per bit position weighted by token frequency; sign → fingerprint
    * bit. `bucket16` is the TOP 16 bits (bits 44..59, `simhash >> 44`) for
    * hamming-neighborhood joins at scale.
    */
  /** Unordered fingerprint frame, Memo.cached — the 60-column vote
    * aggregation is the expensive half shared by the fingerprint dump and
    * the pair join. */
  private def simhashSig(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("simhashSig", spark, dir) {
      // Per doc: explode tokens, hash each to a 60-bit value via the first
      // 15 hex chars of md5 (16 would overflow a signed long), then
      // majority-vote each bit across tokens.
      val toks = spread(spark, documents(spark, dir))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      // bit j of h: (h >> j) & 1 → vote +1/-1; 60 usable bits from 15 hex chars.
      val bitCols = (0 until 60).map { j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$j")
      }
      val votes = toks.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
      val fp = (0 until 60).foldLeft(lit(0L)) { (acc, j) =>
        acc.bitwiseOR(when(col(s"b_$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
      }
      votes.select(col("doc_id"), fp.as("simhash"))
    }

  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSig(spark, dir)
      .withColumn("bucket16", shiftright(col("simhash"), 44))
      .orderBy(col("doc_id"))

  /** 3-shingle Jaccard similarity over candidate pairs bucketed by
    * (lang, n_chars): top-20 most-similar pairs. The bucket join bounds
    * candidate generation; at corpus scale the bucket key would be a
    * coarse fingerprint (see [[qFingerprint]]'s output) instead.
    */
  /** Benchmark decontamination: flag corpus documents that share ANY
    * word 5-shingle with the held-out evaluation set (here a
    * deterministic doc_id stand-in; in production the benchmark suite) —
    * the standard n-gram-collision test-set-leakage check every training
    * corpus runs before a model sees it. Eval shingles are a SMALL
    * distinct hash set → broadcast; the corpus side stays narrow
    * (doc_id, hash) and aggregates per doc. Contamination evidence
    * (`n_shared`) survives for audit; 0 = clean. `n_shared` counts
    * DISTINCT shared shingle hashes (the corpus side is deduped before
    * the probe) — the same arithmetic as [[qContaminationPairs]]'s
    * containment numerator and the streaming
    * [[graft.streaming.DocStream.decontaminateStream]] gate, so the
    * batch scrub and the continuous gate agree on MAGNITUDES, not just
    * on the contaminated flag.
    */
  /** Per-document DISTINCT word-5-shingle hash arrays — the one frame
    * every 5-shingle consumer ([[qDecontaminate]],
    * [[qContaminationPairs]], TextOps.qNgramNovelty) derives from, so
    * the shingling + array_distinct CPU (the dominant per-row cost —
    * the r13 ×10 slope of q_decontaminate was paying it a second time)
    * is spent once per (session, dir) and served from storage memory
    * thereafter. Same pattern as the 3-shingle `docShingleHashes` memo.
    */
  private[operators] def docShingle5(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("docShingleHashes5", spark, dir) {
      spread(spark, documents(spark, dir))
        .select(col("doc_id"),
          array_distinct(ShingleHash32(col("text"), 5)).as("sh5"))
    }

  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") % 20 === 0
    val docs = docShingle5(spark, dir)
    val corpusH = docs.filter(!isEval)
      .select(col("doc_id"), explode(col("sh5")).as("h"))
    val evalH = docs.filter(isEval)
      .select(explode(col("sh5")).as("h")).distinct()
    val shared = corpusH.join(broadcast(evalH), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    docs.filter(!isEval).select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).cast("long").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Per-eval-doc cap on reported contamination pairs (deterministic
    * top-K by containment then train id) and the minimum containment
    * (in basis points of the EVAL doc's distinct shingles) worth
    * reporting. Both mirrored in the oracle. */
  val ContaminationTopK = 20
  val ContaminationMinBp = 1000L

  /** Contamination PAIR attribution — the drill-down behind
    * [[qDecontaminate]]'s per-train-doc flag: WHICH eval-benchmark doc
    * leaked into WHICH training doc, and how much of it (shared distinct
    * 5-shingle hashes / the eval doc's distinct shingles, exact integer
    * bp). The report an eval-integrity review reads: containment near
    * 10⁴ bp = the benchmark item is inside the training doc verbatim;
    * a long tail of ~10³ bp = shared idiom, not leakage. Scale shape:
    * the eval set is tiny next to the corpus, so its exploded shingle
    * index BROADCASTS and candidate generation is one semi-join-shaped
    * hash probe over the training shingles — the corpus is scanned once,
    * no pair term; the ≥[[ContaminationMinBp]] gate plus the
    * first-[[ContaminationTopK]]-per-eval-doc window bound the output
    * under a clone storm (the juniors dropped are later train docs of
    * the same clone family).
    */
  def qContaminationPairs(spark: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") % 20 === 0
    val docs = docShingle5(spark, dir)
    val train = docs.filter(!isEval)
      .select(col("doc_id").as("train_doc"), explode(col("sh5")).as("h"))
    val ev = docs.filter(isEval)
      .select(col("doc_id").as("eval_doc"),
        size(col("sh5")).cast("long").as("eval_sh"), explode(col("sh5")).as("h"))
    val pairs = train.join(broadcast(ev), Seq("h"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"), max(col("eval_sh")).as("eval_sh"))
      .select(col("eval_doc"), col("train_doc"), col("n_shared"),
        expr("n_shared * 10000 div eval_sh").as("containment_bp"))
      .filter(col("containment_bp") >= ContaminationMinBp)
    val w = Window.partitionBy(col("eval_doc"))
      .orderBy(col("containment_bp").desc, col("train_doc"))
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= ContaminationTopK)
      .orderBy(col("eval_doc"), col("rk"))
  }

  /** TF-WEIGHTED Jaccard verification over the capped LSH candidate
    * pairs: Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) — the multiset
    * similarity that set-Jaccard is blind to (a doc and the same doc
    * with every sentence repeated 5× are set-identical but only ~0.2
    * weighted). Near-dup pipelines use it as the second opinion when
    * templating inflates repetition. Identity used: Σ max = dl_a + dl_b
    * − Σ min, so only the SHARED terms join (never a full-outer term
    * align); the candidate set, the (doc, term) tf frame and the dl
    * rollup are all Memo-shared with their other consumers. All sums
    * are exact integers; the final ratio is ONE IEEE division of exact
    * integers — bit-identical cross-engine, emitted UNROUNDED per the
    * q_centroid_sim policy.
    */
  def qWeightedJaccard(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashVerifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val tf = TextOps.termFreq(spark, dir)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val shared = pairs.select(col("doc_a"), col("doc_b"))
      .join(tf.select(col("doc_id").as("doc_a"), col("term"),
        col("tf").as("tf_a")), Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("term"),
        col("tf").as("tf_b")), Seq("doc_b", "term"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("tf_a"), col("tf_b"))).as("w_inter"))
    pairs
      .join(shared, Seq("doc_a", "doc_b"), "left")
      .join(dl.select(col("doc_id").as("doc_a"), col("dl").as("dl_a")), Seq("doc_a"))
      .join(dl.select(col("doc_id").as("doc_b"), col("dl").as("dl_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        coalesce(col("w_inter"), lit(0L)).as("w_inter"),
        (coalesce(col("w_inter"), lit(0L)).cast("double") /
          (col("dl_a") + col("dl_b") - coalesce(col("w_inter"), lit(0L))))
          .as("w_jaccard"))
      .orderBy(col("w_jaccard").desc, col("doc_a"), col("doc_b"))
  }

  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(spark, documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(ShingleHash32(col("text"), 3)).as("sh"))
    d.as("a").join(d.as("b"),
        col("a.lang") === col("b.lang") && col("a.n_chars") === col("b.n_chars") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        r4(jaccard(col("a.sh"), col("b.sh"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(20)
  }

  /** Max hamming distance for a SimHash near-dup pair, and the band
    * blocking layout (4 × 15-bit bands over the 60-bit fingerprint:
    * a pair within hamming ≤ 15/4·k agrees on ≥ one band w.h.p. — the
    * standard pigeonhole blocking, so candidate generation is a
    * key-equality join, never all-pairs). */
  val HammingMax = 8
  val SimhashBands = 4
  val SimhashBandBits = 15

  /** SimHash near-dup pairs: candidates from the band-bucket self-join,
    * verified by exact hamming distance (`bit_count(xor)` — codegen'd
    * built-ins). The SimHash twin of [[qDedupMinhashPairs]]: one narrow
    * fingerprint per doc instead of 12 minhashes, cheaper to compute and
    * store; recall is band-blocking-bounded rather than LSH-tunable.
    */
  def qDedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(spark, dir)
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))

  /** Unordered verified SimHash pairs, pinned per (session, dir): the
    * band self-join + distinct is the expensive half of both consumers
    * (the pairs query, the edit-distance verification). */
  private def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("simhashPairs", spark, dir) {
      val sig = simhashSig(spark, dir)
      val banded = capBuckets(sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until SimhashBands).map(b =>
          concat(lit(s"$b:"),
            shiftright(col("simhash"), b * SimhashBandBits)
              .bitwiseAND(lit((1L << SimhashBandBits) - 1)).cast("string"))): _*))
          .as("band")),
        "band", SimhashBandCap)
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
            .cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= HammingMax)
    }

  /** Jaccard threshold above which a verified candidate pair is an edge
    * of the near-duplicate graph ([[qDedupClusters]]). */
  val ClusterJaccard = 0.5

  /** Near-duplicate CLUSTERS: connected components over the verified
    * MinHash pair graph, labeling every document with the min doc_id of
    * its component — the step that turns pairwise near-dup hits into
    * "keep one per cluster" curation decisions (pairs alone over-delete:
    * a∼b, b∼c must keep ONE of {a,b,c}, not two survivors of two pairs).
    *
    * Algorithm: distributed min-label propagation (the Pregel/GraphX
    * connected-components kernel) — each round every node takes the min
    * label among itself and its neighbors; rounds = graph diameter
    * (near-dup components are tiny and dense, so a handful). Each round
    * is one edge-keyed join + node-keyed aggregate; labels are
    * localCheckpointed so lineage doesn't grow per round, and
    * convergence is detected by the (monotonically decreasing) label sum
    * — ONE scalar to the driver per round, never the data.
    */
  /** Dedup-ladder survivorship funnel: per source, how many documents
    * survive each stage of the production dedup sequence — exact
    * (md5-min keeper per content group) then near-dup (connected-
    * component survivor of the thresholded MinHash pair graph,
    * [[qDedupClusters]]'s labels) — plus exact integer-basis-point
    * retention. The per-source removal attribution is what a 100 TB
    * pipeline reads before committing a dedup pass: a source losing 40%
    * at the EXACT stage is syndicated/boilerplate-heavy (cheap to
    * collapse), one losing it at the NEAR stage is template-heavy
    * (worth a containment look). Stages compose by intersection, so the
    * funnel is monotone by construction; both stage predicates reuse
    * frames other gated queries pin (the md5 grid of [[qDedupExact]],
    * the Memo'd cluster labels), and everything emitted is an exact
    * integer — nothing for the cross-engine hash to drift on.
    */
  def qDedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val labels = dedupClusterLabels(spark, dir)
    val d = documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val keepers = d.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    d.join(keepers, Seq("h"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("source"),
        when(col("doc_id") === col("keeper"), 1L).otherwise(0L).as("ex_s"),
        when(col("doc_id") === coalesce(col("lbl"), col("doc_id")), 1L)
          .otherwise(0L).as("cl_s"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ex_s")).as("n_exact_survivors"),
        sum(col("ex_s") * col("cl_s")).as("n_final_survivors"))
      .select(col("source"), col("n_docs"),
        col("n_exact_survivors"), col("n_final_survivors"),
        (col("n_docs") - col("n_exact_survivors")).as("removed_exact"),
        (col("n_exact_survivors") - col("n_final_survivors")).as("removed_near"),
        expr("n_final_survivors * 10000 div n_docs").as("retention_bp"))
      .orderBy(col("source"))
  }

  /** Per-document duplication profile — the row-level inspection table
    * behind the source-level rollups ([[qDupRateBySource]],
    * [[qDedupFunnel]]): for every doc, its exact-clone count (md5 group
    * size − 1), how many verified LSH candidate pairs touch it, the
    * strongest of those similarities, and its near-dup cluster size.
    * This is the frame an engineer samples when a source's dup rate
    * spikes — WHICH docs, duplicated HOW (verbatim vs near), and how
    * big the family is. Rides three Memo-pinned frames (verified pairs,
    * cluster labels, the md5 grid recomputed as one groupBy); the only
    * float column is the max of jaccard values an already-gated query
    * emits verbatim, so the hash exposure is identical to
    * [[qDedupMinhashPairs]]'.
    */
  def qDocDupProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val grp = d.groupBy(col("h")).agg(count(lit(1)).as("grp_n"))
    val pairs = minhashVerifiedPairs(spark, dir)
    val touch = pairs.select(col("doc_a").as("doc_id"), col("jaccard"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"), col("jaccard")))
    val near = touch.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near_pairs"), max(col("jaccard")).as("max_jaccard"))
    val labels = dedupClusterLabels(spark, dir)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
      .withColumnRenamed("lbl", "size_lbl")
    d.join(grp, Seq("h"))
      .join(near, Seq("doc_id"), "left")
      .join(labels, col("doc_id") === col("id"), "left")
      .join(sizes, coalesce(col("lbl"), col("doc_id")) === col("size_lbl"), "left")
      .select(col("doc_id"), col("source"),
        (col("grp_n") - 1L).as("n_exact_dups"),
        coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        coalesce(col("sz"), lit(1L)).as("cluster_size"))
      .orderBy(col("doc_id"))
  }

  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // The whole propagation is memoized, not just the edges: the
    // multi-round driver loop (a blocking action + localCheckpoint per
    // round) is itself the expensive part, and both this query and
    // qCorpusFilter consume the converged labels.
    val labels = dedupClusterLabels(spark, dir)
    documents(spark, dir).select(col("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("is_survivor",
        when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Duplication forensics BY SOURCE — the table that tells a corpus
    * curator WHICH ingest feed is flooding the pipeline with copies
    * (per-corpus dup rates hide a single bad crawler behind clean feeds).
    * Per source: docs, exact-duplicate non-survivors (md5(text) groups,
    * min doc_id survives — same contract as [[qDedupExact]]), near-dup
    * non-survivors (thresholded-MinHash cluster members that are not the
    * cluster minimum — same labels as [[qDedupClusters]], shared via its
    * Memo), and both rates in exact integer basis points. Three
    * source-keyed rollups over frames that already exist; no new
    * corpus-sized shuffle.
    */
  def qDupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir).select(col("doc_id"), col("source"))
    val exactSurvivor = documents(spark, dir)
      .groupBy(md5(col("text")).as("ch")).agg(min(col("doc_id")).as("kd"))
      .select(col("kd").as("doc_id"), lit(1L).as("is_exact_survivor"))
    val labels = dedupClusterLabels(spark, dir)
    val nearDup = labels.filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_id"), lit(1L).as("is_near_dup"))
    docs
      .join(exactSurvivor, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_exact_survivor").isNull, 1L).otherwise(0L))
          .as("exact_dup_docs"),
        sum(coalesce(col("is_near_dup"), lit(0L))).as("near_dup_docs"))
      .select(col("source"), col("n_docs"), col("exact_dup_docs"),
        col("near_dup_docs"),
        expr("exact_dup_docs * 10000 div n_docs").as("exact_dup_bp"),
        expr("near_dup_docs * 10000 div n_docs").as("near_dup_bp"))
      .orderBy(col("source"))
  }

  /** [[clusterLabels]], Memo'd once per (session, dir): the converged
    * labels every near-dup cluster query reads. */
  private[graft] def dedupClusterLabels(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("dedupClusterLabels", spark, dir)(clusterLabels(spark, dir))

  /** Pregel-style min-label propagation over the thresholded MinHash pair
    * graph (see [[qDedupClusters]]): returns (id, lbl) for every node
    * that appears in an edge, converged to the component minimum. The
    * materialized edge list is memoized separately (localCheckpoint
    * truncates lineage so propagation rounds re-read data, not plans).
    */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.Memo("minhashEdges", spark, dir) {
      val pairs = qDedupMinhashPairs(spark, dir)
        .filter(col("jaccard") >= ClusterJaccard)
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .localCheckpoint()
    }
    GraphOps.minLabelPropagation(edges)
  }

  /** Edit-distance verification of the SimHash candidate pairs: exact
    * Levenshtein distance (codegen'd built-in, O(len²) per pair) over the
    * ALREADY-BLOCKED candidate set — the character-level ground truth the
    * bit-level hamming only approximates. Never run over raw pairs: the
    * band join bounds the quadratic work to candidates, then the top-50
    * closest pairs surface. Distance is normalized by the longer text
    * (1 − d/max(len)) for a scale-free similarity.
    */
  def qEditDistance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.LevenshteinTrim.{levenshteinBound, levenshteinTrimThreshold}
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val joined = simhashPairs(spark, dir)
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta"),
        col("len").as("la")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb"),
        col("len").as("lb")), Seq("doc_b"))
      // The candidate frame is KB-sized, so AQE's size-based coalescing
      // would run every O(len²) distance on ONE task — pin the width to
      // the session parallelism before the expensive projection (CPU
      // cost here scales with rows·len², not bytes).
      .repartition(spark.sparkContext.defaultParallelism)
      // Exact per-pair distance UPPER BOUND: the longer side's length
      // after common-affix trimming (d ≤ max(|u|,|v|) — one byte scan,
      // no DP). True near-dups (shared prefix + small edited window)
      // bound at a handful; band-collision false candidates bound near
      // their full length.
      .withColumn("ub",
        when(col("ta") === col("tb"), lit(0))
          .otherwise(levenshteinBound(col("ta"), col("tb"))))
    // Top-50-exact banding (r16): the query emits the 50 SMALLEST
    // distances, so any pair whose true distance exceeds the 50th
    // smallest UPPER bound t0 can never surface (d > t0 ≥ d₅₀). Running
    // the DP banded at threshold t0 returns the exact built-in distance
    // for every pair with d ≤ t0 — a superset of the emitted rows — and
    // −1 (mapped to the pair's own bound, which is > d₅₀ by the same
    // inequality) for pairs that cannot appear. With ≥50 true near-dups
    // in a dup-heavy corpus t0 is tiny, so the band-collision majority
    // of the candidate set pays O(len·t0) instead of O(len²) — measured
    // 28 s → 2.4 s of task CPU at sf0.1 with the emitted frame
    // bit-identical (same oracle, same hash). Fewer than 50 candidates
    // total degenerates to t0 = max(ub), i.e. the exact unbanded DP.
    val t0 = joined.select(col("ub")).orderBy(col("ub")).limit(50)
      .agg(max(col("ub")).as("t0"))
    joined.crossJoin(broadcast(t0))
      .withColumn("lev",
        when(col("ta") === col("tb"), lit(0))
          .otherwise(levenshteinTrimThreshold(col("ta"), col("tb"), col("t0"))))
      .withColumn("edit_distance",
        when(col("lev") === -1, col("ub")).otherwise(col("lev")).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("edit_distance"),
        r4(lit(1.0) - col("edit_distance").cast("double")
          / greatest(col("la"), col("lb"))).as("similarity"))
      .orderBy(col("edit_distance"), col("doc_a"), col("doc_b"))
      .limit(50)
  }

  /** Bottom-k anchor count and containment threshold for [[qContainment]]. */
  val ContainmentAnchors = 5
  val ContainmentMin = 0.5

  /** Hot-shingle document-frequency cap for [[qContainment]]'s inverted
    * index. A shingle present in more than this many documents (license
    * header, templated boilerplate) fans the anchor⋈postings join out by
    * k·df while carrying no containment signal of its own — one
    * planet-hot key dominates the join exactly like a hot resource
    * dominates the co-access pair fold, and it gets the same treatment:
    * df is counted per shingle hash and postings with df > cap are
    * dropped BEFORE the anchor join (mirror of
    * [[ThreatOps.coaccessPairFrameUncached]]'s degree cap). Pairs whose
    * ONLY shared shingles are capped become a recall lower bound —
    * acceptable, because a boilerplate-only overlap is the near-dup
    * you'd want to ignore anyway. The cap sits above any possible df at
    * oracle scale (sf0.01 has 500 documents, so df ≤ 500 < 1000), so
    * the correctness gate stays exact while the 100 TB plan is bounded.
    */
  val ContainmentDfCap = 1000

  /** ASYMMETRIC near-dup detection: shingle containment
    * `C(A,B) = |A∩B| / |A|` — catches a document EMBEDDED in a larger one
    * (quote, concatenation, boilerplate wrapper), which Jaccard dilutes
    * below any usable threshold when sizes differ (J ≤ |A|/|B|). The
    * MinHash-LSH candidates ([[qDedupMinhashPairs]]) inherit that
    * dilution, so containment needs its own candidate generator, and it
    * must be ASYMMETRIC like the measure: each doc's k smallest shingle
    * hashes (bottom-k anchors) probe an inverted index of ALL shingle
    * hashes. If A ⊆ B then every anchor of A appears in B — candidate
    * recall for true containment is guaranteed, unlike anchor-vs-anchor
    * (B's own minima may all lie in its non-shared bulk). Fan-out is
    * k·df(anchor), with df bounded by [[ContainmentDfCap]] (hot
    * boilerplate shingles are dropped from the postings list before the
    * join). Exact set arithmetic verifies.
    */
  def qContainment(spark: SparkSession, dir: String): DataFrame =
    containmentPairsGrouped(contShingles(spark, dir), contGroups(spark, dir),
      ContainmentDfCap)

  /** Pinned shingled, clone-keyed frame: consumed by the group fold AND
    * the two member-expansion joins of [[qContainment]], plus the df
    * profile — shingling the corpus once, not 4×.
    */
  private def contShingles(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("containmentShingles", spark, dir) {
      cloneKeyed(spread(spark, documents(spark, dir))
        .select(col("doc_id"), array_distinct(ShingleHash32(col("text"), 3)).as("h"))
        .filter(size(col("h")) > 0))
    }

  /** The distinct-set group frame feeds df counting, anchors, postings
    * and both scoring joins — pinned per (session, dir) so repeat calls
    * don't re-aggregate.
    */
  private def contGroups(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("containmentGroups", spark, dir) {
      cloneGroups(contShingles(spark, dir))
    }

  /** Shingle document-frequency profile in decimal-digit buckets — the
    * table that SIZES [[ContainmentDfCap]] before a 100 TB run, exactly
    * as [[qMinhashCalibration]] sizes the signature width: per df
    * magnitude, how many distinct shingles live there, how many postings
    * they contribute, and what share of postings the df cap would drop
    * (hot boilerplate shingles dominate postings long before they
    * dominate the vocabulary — this query shows WHERE the cap starts to
    * bind). Rides the Memo'd clone-group frame; one |shingles|-keyed
    * aggregate plus a ≤10-row rollup — scan-shaped at any corpus size.
    * All-integer output (digit buckets, counts, basis points by integer
    * division), so the hash has nothing to drift on.
    */
  def qShingleDfProfile(spark: SparkSession, dir: String): DataFrame = {
    val df = contGroups(spark, dir)
      .select(explode(col("h")).as("hh"), col("n_members"))
      .groupBy(col("hh")).agg(sum(col("n_members")).as("df"))
    df.groupBy(length(col("df").cast("string")).cast("long").as("df_digits"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("n_postings"),
        sum(least(col("df"), lit(ContainmentDfCap.toLong))).as("capped_postings"))
      .select(col("df_digits"), col("n_shingles"), col("n_postings"),
        col("capped_postings"),
        expr("(n_postings - capped_postings) * 10000 div n_postings")
          .as("truncated_bp"))
      .orderBy(col("df_digits"))
  }

  /** Exact-clone collapse key: documents with IDENTICAL shingle sets get
    * one group key — md5 over the sorted hash list (128-bit, so key
    * collisions are off the table at any corpus size). In a dup-heavy
    * corpus (the 100 TB reality: mirrors, crawl re-fetches, templated
    * boilerplate) this is the difference between scoring every clone
    * pair and scoring each distinct CONTENT once: a clone group of F
    * copies costs C(F,2) candidate+intersect evaluations uncollapsed but
    * exactly its share of ONE rep-level evaluation collapsed, with the
    * clones re-entering only in the final output-sized expansion.
    */
  private def cloneKeyed(d: DataFrame): DataFrame =
    d.select(col("doc_id"), array_sort(col("h")).as("h"))
      // 16-byte BINARY key, not the 32-char md5 hex string (r17, guide
      // §2.3 narrower types): gk rides EVERY row of the anchor, postings
      // and candidate-dedup exchanges — the three biggest shuffles of the
      // containment pipeline — and the hex doubling was pure exchange
      // weight (measured 13.7 MiB → ~7 MiB on the dedup exchange at
      // sf0.1). Hex is an order-preserving byte encoding, so binary
      // least/greatest orient every pair exactly as the string form did —
      // emitted values unchanged (oracle hash green).
      .withColumn("gk",
        unhex(md5(concat_ws(",", transform(col("h"), _.cast("string"))))))

  /** One row per DISTINCT shingle set: group key, member count, the set. */
  private def cloneGroups(keyed: DataFrame): DataFrame =
    keyed.groupBy(col("gk")).agg(
      count(lit(1)).as("n_members"),
      // all members carry the identical array — first() is deterministic
      first(col("h")).as("h"))

  /** Anchor⋈postings containment over a `(doc_id, h: array<long>)`
    * shingle frame with the hot-shingle df cap applied to the postings
    * side (see [[ContainmentDfCap]]) and exact clones collapsed before
    * any candidate work (see [[cloneKeyed]]). Package-visible so the
    * spec can plant a hot shingle and assert the candidate bound
    * directly. Verification (the array_intersect arithmetic) runs on the
    * FULL shingle sets — the cap gates candidate GENERATION only, so any
    * pair that survives is scored exactly.
    */
  private[graft] def containmentPairs(d: DataFrame, dfCap: Int): DataFrame = {
    val keyed = cloneKeyed(d)
    containmentPairsGrouped(keyed, cloneGroups(keyed), dfCap)
  }

  private def containmentPairsGrouped(
      keyed: DataFrame, groups: DataFrame, dfCap: Int): DataFrame = {
    // df is CORPUS document frequency, so clone members count: weight
    // each distinct set by its group size. The hot set is bounded by the
    // number of planet-hot keys (tiny at ANY corpus size), so the
    // anti-joins broadcast it; the cold postings never re-shuffle.
    val hot = groups.select(explode(col("h")).as("hh"), col("n_members"))
      .groupBy(col("hh")).agg(sum(col("n_members")).as("df"))
      .filter(col("df") > dfCap).select(col("hh"))
    // h is array_sort'd in cloneKeyed, so slice(…, 1, k) IS bottom-k.
    val anch = groups.select(col("gk"),
      explode(slice(col("h"), 1, ContainmentAnchors)).as("a"))
    val postings = groups.select(col("gk"), explode(col("h")).as("hh"))
      .join(broadcast(hot), Seq("hh"), "left_anti")
    // The postings side is the BIG side (every cold shingle of every
    // distinct set) but its size estimate downstream of the cached,
    // exploded group frame reads tiny — left alone the planner broadcasts
    // the inverted index, which thrashes at sf0.1 and is impossible at
    // 100 TB. Pin a shuffle-hash join with the bottom-k anchor side
    // (k·ǀgroupsǀ rows, the provably smaller side) as build.
    val cands = anch.as("x").hint("shuffle_hash").join(postings.as("y"),
        col("x.a") === col("y.hh") && col("x.gk") =!= col("y.gk"))
      .select(least(col("x.gk"), col("y.gk")).as("gk_a"),
        greatest(col("x.gk"), col("y.gk")).as("gk_b"))
      .distinct()
    // Score ONCE per distinct-set pair; c_a is containment of gk_a's set,
    // c_b of gk_b's. r4-then-filter here matches the uncollapsed order of
    // operations exactly (the member-level values are the same numbers).
    val scored = cands
      .join(groups.select(col("gk").as("gk_a"), col("h").as("ha")), Seq("gk_a"))
      .join(groups.select(col("gk").as("gk_b"), col("h").as("hb")), Seq("gk_b"))
      .select(col("gk_a"), col("gk_b"),
        size(array_intersect(col("ha"), col("hb"))).cast("double").as("inter"),
        size(col("ha")).cast("double").as("na"),
        size(col("hb")).cast("double").as("nb"))
      .select(col("gk_a"), col("gk_b"),
        r4(col("inter") / col("na")).as("c_a"),
        r4(col("inter") / col("nb")).as("c_b"))
      .filter(greatest(col("c_a"), col("c_b")) >= ContainmentMin)
    // Output-sized expansion: every member pair of a surviving rep pair.
    // doc_a is the smaller id, and the asymmetric scores follow the ids:
    // c_ab always reads "containment of doc_a's set".
    val mem = keyed.select(col("gk"), col("doc_id"))
    val cross = scored
      .join(mem.select(col("gk").as("gk_a"), col("doc_id").as("ma")), Seq("gk_a"))
      .join(mem.select(col("gk").as("gk_b"), col("doc_id").as("mb")), Seq("gk_b"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"),
        when(col("ma") < col("mb"), col("c_a")).otherwise(col("c_b")).as("c_ab"),
        when(col("ma") < col("mb"), col("c_b")).otherwise(col("c_a")).as("c_ba"))
    // Within-group pairs: identical sets ⇒ containment 1.0 both ways —
    // but only where the uncollapsed join would have met them at all,
    // i.e. at least one of the group's bottom-k anchors survives the df
    // cap (a group whose every anchor is capped boilerplate generates no
    // candidates, collapsed or not).
    val eligible = anch
      .join(broadcast(hot.withColumnRenamed("hh", "a")), Seq("a"), "left_anti")
      .select(col("gk")).distinct()
    val within = mem.as("m1").join(mem.as("m2"),
        col("m1.gk") === col("m2.gk") && col("m1.doc_id") < col("m2.doc_id"))
      .join(eligible.as("e"), col("m1.gk") === col("e.gk"), "left_semi")
      .select(col("m1.doc_id").as("doc_a"), col("m2.doc_id").as("doc_b"),
        lit(1.0).as("c_ab"), lit(1.0).as("c_ba"))
    cross.unionAll(within)
      .orderBy(greatest(col("c_ab"), col("c_ba")).desc, col("doc_a"), col("doc_b"))
  }

  /** Cross-source near-duplicate matrix: thresholded MinHash pairs
    * (jaccard ≥ [[ClusterJaccard]], same edge set as [[qDedupClusters]])
    * rolled up by the UNORDERED source pair of their endpoints — the
    * contamination forensics a multi-feed corpus needs (a heavy
    * off-diagonal cell means two ingest feeds crawl the same content;
    * the diagonal is within-feed duplication [[qDupRateBySource]] rates).
    * Rides the Memo'd signature/pair frames — no new corpus-sized
    * shuffle; the rollup output is |sources|² rows. The mean jaccard is
    * exact: each pair's 4-dp jaccard scales to an integer (round(j·10⁴)
    * — the double is within 1e-9 of the integer on both engines), sums
    * as a long, and divides once at the end.
    */
  def qCrossSourceDup(spark: SparkSession, dir: String): DataFrame = {
    val src = documents(spark, dir).select(col("doc_id"), col("source"))
    val pairs = qDedupMinhashPairs(spark, dir)
      .filter(col("jaccard") >= ClusterJaccard)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * 10000).cast("long").as("j_bp"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        r4(sum(col("j_bp")).cast("double") / count(lit(1)) / 10000.0)
          .as("avg_jaccard"),
        r4(max(col("j_bp")).cast("double") / 10000.0).as("max_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ---------------------------------------------------------------------
  // Incremental dedup: a NEW shard against the EXISTING corpus via a
  // PERSISTED signature index — the production 100 TB shape (daily crawl
  // vs historical index) where re-shingling history every day is the
  // cost being designed out.
  // ---------------------------------------------------------------------

  /** Deterministic shard split: `doc_id % IncrementalShardMod == 0` is
    * the "new" shard (the daily crawl, ~1/mod of the corpus); the rest
    * is the historical corpus the index covers.
    */
  val IncrementalShardMod = 10L

  /** `(doc_id, bucket)` LSH band-bucket rows for an arbitrary
    * `(doc_id, text, …)` frame — [[signatures]] and [[bandBuckets]], the
    * kernel [[minhashSig]] pins — so the index build (historical split)
    * and the shard probe (new split, or a genuinely external frame) band
    * exactly as the batch queries do. NULL buckets (shingle-less docs)
    * ride through and never join, exactly as in [[minhashVerifiedPairs]].
    */
  private[graft] def bandRows(d: DataFrame): DataFrame =
    signatures(d).select(col("doc_id"), bandBuckets())

  /** Distinct-shingle-hash verification sets `(doc_id, sh)` for an
    * arbitrary `(doc_id, text, …)` frame — the one builder of the
    * 3-shingle verification side (batch: [[shingleSets]]; index: `sigs/`). */
  private[graft] def sigRows(d: DataFrame): DataFrame =
    d.select(col("doc_id"), array_distinct(ShingleHash32(col("text"), 3)).as("sh"))

  /** Builds the persistent MinHash index for `dir`'s HISTORICAL split
    * (doc_id % mod != 0) at `indexPath`: `bands/` holds the exploded
    * `(doc_id, bucket)` band rows UNCAPPED (the band cap depends on
    * future members, so it is applied at probe time over the union —
    * which is what makes the incremental result bit-equal to a batch
    * run over the full corpus), `sigs/` the `(doc_id, sh)` verification
    * sets. After this write, answering an incremental probe never
    * touches a historical text byte again — shingling history is paid
    * once, here.
    */
  def buildMinhashIndex(spark: SparkSession, dir: String,
      indexPath: String): Unit = {
    val hist = spread(spark, documents(spark, dir)
      .filter(col("doc_id") % IncrementalShardMod =!= 0))
    bandRows(hist).write.mode("overwrite").parquet(s"$indexPath/bands")
    sigRows(hist).write.mode("overwrite").parquet(s"$indexPath/sigs")
  }

  /** Probes `newShard` (doc_id, text) against a stored index: verified
    * LSH near-dup pairs touching at least one new-shard doc —
    * `(doc_a, doc_b, pair_kind cross|intra, jaccard)`, the exact frame a
    * batch MinHash run over (history ∪ shard) would emit restricted to
    * pairs with a new endpoint.
    *
    * Scale shape: the stored band rows are first SEMI-JOINED on the
    * shard's bucket set (broadcast — a daily shard's bucket count is
    * tiny next to the index), so the per-bucket population cap, the
    * pair join, and the verification all run over candidate buckets
    * only, never the full index; the per-bucket cap is applied to the
    * union first-[[MinhashBandCap]]-by-doc_id, identical to the batch
    * clamp, so capped buckets stay hash-checked. Verification joins the
    * union signature lookup (index `sigs/` for historical endpoints,
    * fresh shard sigs for new ones) — historical TEXT is never read.
    */
  private[graft] def incrementalPairs(spark: SparkSession,
      newShard: DataFrame, indexPath: String): DataFrame = {
    val newBands = bandRows(newShard)
    val histBands = spark.read.parquet(s"$indexPath/bands")
      .join(broadcast(newBands.select(col("bucket")).distinct()),
        Seq("bucket"), "left_semi")
    val cand = bucketPairs(
        histBands.unionByName(newBands.select(col("bucket"), col("doc_id"))),
        "bucket", MinhashBandCap)
      .filter(col("doc_a") % IncrementalShardMod === 0 ||
        col("doc_b") % IncrementalShardMod === 0)
    val sigs = spark.read.parquet(s"$indexPath/sigs")
      .unionByName(sigRows(newShard))
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        when(col("doc_a") % IncrementalShardMod === 0 &&
             col("doc_b") % IncrementalShardMod === 0, "intra")
          .otherwise("cross").as("pair_kind"),
        r4(jaccard(col("sh_a"), col("sh_b"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** Index location for `dir`: content-fingerprinted (file names + sizes
    * + mtimes of documents.parquet) under java.io.tmpdir, so a
    * driver-regenerated fixture can NEVER silently reuse a stale index —
    * a new fingerprint is a new path, and the build triggers again.
    */
  private[graft] def indexPathFor(dir: String): String = {
    val fp = graft.Tables.contentFingerprint(s"$dir/documents.parquet")
    s"${sys.props("java.io.tmpdir")}/graft_mh_index_$fp"
  }

  /** Incremental near-dup entry: ensures the historical index for `dir`
    * exists (built once per fingerprint, `_built` marker — reused across
    * sessions AND rounds until the fixture changes), then probes the
    * new shard read from `dir` against it. Memo keyed per (session,
    * dir) so repeated calls skip even the marker stat. The marker check
    * is not a lock: two PROCESSES racing the first build both build it,
    * and [[publishIndex]] keeps the first one to land.
    */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("dedupIncremental", spark, dir) {
      val path = ensureIndex(spark, dir)
      val newShard = spread(spark, documents(spark, dir)
        .filter(col("doc_id") % IncrementalShardMod === 0))
      incrementalPairs(spark, newShard, path)
    }

  /** The day's ingest verdict — per SOURCE of the new shard (doc_id %
    * [[IncrementalShardMod]] = 0, the daily crawl): how many docs and
    * tokens arrived, how many are byte-exact clones of history, how many
    * near-duplicate history (cross pairs of [[qDedupIncremental]] at
    * jaccard ≥ [[ClusterJaccard]]), and the genuinely-novel share in
    * exact bp. THE table an ingest pipeline reads before promoting a
    * crawl snapshot ("yesterday's crawl was 60% resyndication — stop
    * paying for that feed"). Rides the Memo'd incremental pair frame (so
    * the near-dup column costs nothing beyond the probe already run) and
    * one md5 semi-join against history's 16-byte hashes — never
    * historical text. All-integer output.
    */
  def qShardIngestReport(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % IncrementalShardMod === 0
    val docs = spread(spark, documents(spark, dir))
    val newDocs = docs.filter(isNew).select(col("doc_id"), col("source"),
      md5(col("text")).as("ch"),
      size(tokens(col("text"))).cast("long").as("nt"))
    val histHashes = docs.filter(!isNew).select(md5(col("text")).as("ch")).distinct()
    val exactIds = newDocs.join(histHashes, Seq("ch"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(1L))
    val nearIds = qDedupIncremental(spark, dir)
      .filter(col("pair_kind") === "cross" && col("jaccard") >= ClusterJaccard)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .filter(col("doc_id") % IncrementalShardMod === 0)
      .distinct().withColumn("is_near", lit(1L))
    newDocs
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_new_docs"),
        sum(col("nt")).as("new_tokens"),
        sum(coalesce(col("is_exact"), lit(0L))).as("n_exact_dup"),
        sum(coalesce(col("is_near"), lit(0L))).as("n_near_dup"),
        sum(when(col("is_exact").isNull && col("is_near").isNull, 1L)
          .otherwise(0L)).as("n_novel"))
      .select(col("source"), col("n_new_docs"), col("new_tokens"),
        col("n_exact_dup"), col("n_near_dup"), col("n_novel"),
        expr("n_novel * 10000 div n_new_docs").as("novel_bp"))
      .orderBy(col("source"))
  }

  /** Per-index-path build monitors: the atomic rename protects CROSS-
    * process races, but two THREADS in one JVM racing the first build
    * could otherwise interleave "clear the marker-less legacy path" with
    * the sibling's just-renamed live index (delete-under-reader). One
    * monitor per path serializes intra-process builds; entries are a few
    * dozen bytes per distinct index path, never evicted by design. */
  private val indexBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Builds the historical index for `dir` once per content fingerprint
    * (`_built` marker — reused across sessions AND rounds until the
    * fixture changes) and returns its path. Shared by the incremental
    * probe and the compaction entry. Published through [[publishIndex]]
    * against OTHER processes; same-JVM callers additionally serialize on
    * a per-path monitor, so the single-process idempotence the `_built`
    * marker provides holds per-THREAD too (a second thread blocks, then
    * sees the marker and returns without touching the tree).
    */
  private[graft] def ensureIndex(spark: SparkSession, dir: String): String =
    indexBuildLocks.computeIfAbsent(indexPathFor(dir), _ => new Object)
      .synchronized { ensureIndexLocked(spark, dir) }

  private def ensureIndexLocked(spark: SparkSession, dir: String): String = {
    val path = indexPathFor(dir)
    val marker = new java.io.File(s"$path/_built")
    if (!marker.isFile) {
      // a marker-less path is a legacy in-place partial build (crashed
      // before its marker): clear it so the rename can land — under the
      // documented single-process assumption nobody is reading it
      deleteRecursively(new java.io.File(path))
      publishIndex(path)(buildMinhashIndex(spark, dir, _))
      marker.createNewFile()
    }
    path
  }

  /** Publishes an index generation atomically: `write` fills a staging
    * directory (`<target>.inprogress`, cleared first so a crashed attempt
    * can't contaminate a retry), which is then rename(2)'d onto `target` —
    * so `target` either doesn't exist or holds one complete bands/sigs
    * pair, and a racing reader (or a crashed build) never observes a
    * partial one. Two processes racing the SAME target: the loser's
    * rename fails on the existing directory and its staging copy is
    * discarded — first-writer-wins, and since both computed the same
    * deterministic content, which one landed is immaterial.
    */
  private def publishIndex(target: String)(write: String => Unit): Unit = {
    val staging = s"$target.inprogress"
    deleteRecursively(new java.io.File(staging))
    write(staging)
    try
      java.nio.file.Files.move(java.nio.file.Paths.get(staging),
        java.nio.file.Paths.get(target),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileSystemException
          if new java.io.File(s"$target/bands").isDirectory =>
        deleteRecursively(new java.io.File(staging)) // racer won, same content
    }
  }

  /** Folds a probed shard's band/sig rows into a stored index, writing a
    * NEW index generation at `outPath` (LSM-style: the old generation
    * stays readable until the swap). Reads ONLY the stored parquet parts
    * plus the shard frame — no historical text. Band rows are written
    * clustered by bucket so tomorrow's probe semi-join scans co-located
    * files; both unions stay uncapped, preserving
    * [[buildMinhashIndex]]'s invariant that the cap is applied at probe
    * time over whatever union is current.
    *
    * The generation is published through [[publishIndex]], so a reader
    * can never observe a half-written bands/ next to yesterday's sigs/,
    * and of two processes racing the SAME generation the first rename
    * wins. The `_built` marker written by [[qDedupIndexCompact]] keeps
    * its documented single-process-idempotence role only.
    */
  def compactIndex(spark: SparkSession, basePath: String,
      shardDocs: DataFrame, outPath: String): Unit =
    publishIndex(outPath) { staging =>
      spark.read.parquet(s"$basePath/bands")
        .unionByName(bandRows(shardDocs))
        .repartition(col("bucket"))
        .write.mode("overwrite").parquet(s"$staging/bands")
      spark.read.parquet(s"$basePath/sigs")
        .unionByName(sigRows(shardDocs))
        .write.mode("overwrite").parquet(s"$staging/sigs")
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Index-maintenance entry (the day-after step of
    * [[qDedupIncremental]]'s production loop: probe the shard, then
    * compact it into the index so tomorrow's shard probes an up-to-date
    * generation). Ensures the historical index, compacts the new shard
    * into a fresh generation, and emits a per-band DIGEST of the
    * compacted index — row/bucket/doc counts plus an order-independent
    * 60-bit-hash checksum in DECIMAL(38,0) (sums commute, so the digest
    * is layout- and partitioning-invariant) — with the `sigs/` side as
    * the band = −1 row. The oracle recomputes the same digest from the
    * full documents table from scratch: a hash match IS the proof that
    * compaction(history-index, shard) ≡ build(full corpus), byte-for-byte
    * in content, without the oracle ever seeing the stored files. Scale
    * shape: compaction is one parquet-to-parquet union write clustered on
    * the probe key; the digest is two rollups over the index — nothing
    * touches text.
    */
  def qDedupIndexCompact(spark: SparkSession, dir: String): DataFrame =
    graft.Memo("dedupIndexCompact", spark, dir) {
      val base = ensureIndex(spark, dir)
      val compacted = s"${base}_compacted"
      val marker = new java.io.File(s"$compacted/_built")
      if (!marker.isFile) {
        val shard = spread(spark, documents(spark, dir)
          .filter(col("doc_id") % IncrementalShardMod === 0))
        compactIndex(spark, base, shard, compacted)
        marker.createNewFile()
      }
      indexDigest(spark, compacted)
    }

  /** Per-band content digest of a stored index generation —
    * row/bucket/doc counts plus an order-independent 60-bit-hash-sum
    * checksum per band, with the `sigs/` side as the band = −1 row.
    * Sums commute, so the digest is layout- and partitioning-invariant:
    * two generations digest equal iff their CONTENT (the band and
    * signature row sets) is equal, however they were produced — the
    * equivalence [[qDedupIndexCompact]]'s oracle certifies against a
    * from-scratch build, and MultiGenCompactionSpec chains across three
    * compaction generations.
    */
  private[graft] def indexDigest(spark: SparkSession, indexPath: String): DataFrame = {
      def h60(parts: Column): Column =
        conv(substring(md5(parts), 1, 15), 16, 10)
          .cast("long").cast("decimal(38,0)")
      // checksum emitted as STRING: a DECIMAL(38,0) round-trips through
      // pandas as opaque Decimal objects, while the decimal→string cast
      // is exact and identical on both engines (scale-0, no point).
      val bandDigest = spark.read.parquet(s"$indexPath/bands")
        // a doc too short to shingle has NULL minhashes → NULL band keys;
        // those rows can never match a probe, so the digest (and the
        // oracle) ignores them
        .filter(col("bucket").isNotNull)
        // band id = the FULL prefix before ':' (bucket = "<band>:<md5>"),
        // not a single leading character — parses correctly for any
        // future nBands ≥ 11, mirrored as split_part in the oracle
        .groupBy(split(col("bucket"), ":", 2).getItem(0).cast("long").as("band"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("bucket")).as("n_keys"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(h60(concat(col("bucket"), lit("#"), col("doc_id").cast("string"))))
            .cast("string").as("checksum"))
      val sigDigest = spark.read.parquet(s"$indexPath/sigs")
        .select(col("doc_id"), explode(col("sh")).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("h")).as("n_keys"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(h60(concat(col("doc_id").cast("string"), lit("#"),
            col("h").cast("string")))).cast("string").as("checksum"))
        .select(lit(-1L).as("band"), col("n_rows"), col("n_keys"),
          col("n_docs"), col("checksum"))
      bandDigest.unionByName(sigDigest).orderBy(col("band"))
  }
}
