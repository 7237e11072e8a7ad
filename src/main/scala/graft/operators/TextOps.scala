package graft.operators

import graft.Tables._
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. Everything is
  * a narrow per-row projection — no shuffle at all unless the query sorts —
  * so throughput is bounded by scan speed at 100 TB.
  */
object TextOps {

  /** Stopword/function-word marker sets per language. Tiny and literal —
    * compiled into the plan as constants (and mirrored verbatim in the
    * DuckDB oracle SQL).
    */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist"),
    "es" -> Seq("el", "los", "y", "es", "un", "una"),
    "fr" -> Seq("le", "la", "et", "les", "un", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有"))

  private def markerCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit): _*)))

  /** N-gram-heuristic language identification: score each candidate
    * language by its function-word hit count; argmax with a fixed
    * tie-break order (declaration order above) so results are total.
    */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val scored = markers.foldLeft(spread(spark, documents(spark, dir))) { case (df, (l, ws)) =>
      df.withColumn(s"score_$l", markerCount(col("text"), ws).cast("long"))
    }
    val best = markers.map(_._1).foldRight(lit("und")) { case (l, rest) =>
      when(col(s"score_$l") === greatest(markers.map(m => col(s"score_${m._1}")): _*)
        && col(s"score_$l") > 0, lit(l)).otherwise(rest)
    }
    val outCols = Seq(col("doc_id"), col("lang").as("declared_lang"), col("pred_lang")) ++
      markers.map(m => col(s"score_${m._1}"))
    scored
      .withColumn("pred_lang", best)
      .select(outCols: _*)
      .orderBy(col("doc_id"))
  }

  /** Language-ID confusion matrix: declared (metadata) language ×
    * predicted (n-gram heuristic) language, with each cell's share of
    * its declared row in exact integer bp — the data-card table that
    * says whether a source's language labels can be TRUSTED before
    * lang-stratified sampling/mixing keys on them (a row whose diagonal
    * share is low means either mislabeled metadata or an under-resourced
    * marker set). One ǀlangsǀ²-cell rollup over [[qLangId]]'s verdict —
    * scan-bound, all-integer.
    */
  def qLangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val lid = qLangId(spark, dir).select(col("declared_lang"), col("pred_lang"))
    val perDecl = lid.groupBy(col("declared_lang"))
      .agg(count(lit(1)).as("decl_docs"))
    lid.groupBy(col("declared_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .join(perDecl, Seq("declared_lang"))
      .select(col("declared_lang"), col("pred_lang"), col("n_docs"),
        expr("n_docs * 10000 div decl_docs").as("share_bp"),
        (col("declared_lang") === col("pred_lang")).cast("long").as("is_match"))
      .orderBy(col("declared_lang"), col("pred_lang"))
  }

  /** Document quality scoring: length, punctuation ratio, stopword ratio,
    * mean word length, plus a bounded composite score.
    *
    * The composite is computed in INTEGER basis points (0..100000), not
    * floats: a weighted sum of exact decimals lands on .00005 rounding
    * boundaries constantly, and Spark (strict Java IEEE) vs DuckDB
    * (C++, FMA contraction allowed) can differ by one ulp there — a real
    * sf0.1 doc hit exactly 0.84025. Each *ratio* is one IEEE division
    * (correctly rounded, bit-identical on both engines) rounded to an
    * integer bp; from there the composite is pure integer math.
    */
  def qQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTokens = size(t).cast("long")
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[^A-Za-z0-9\\s]", ""))).cast("long")
    val stop = markerCount(col("text"), markers.head._2)
    val punctRatio = punct.cast("double") / greatest(length(col("text")), lit(1))
    val stopRatio = stop.cast("double") / greatest(nTokens, lit(1L))
    val meanWordLen = aggregate(t, lit(0.0), (acc, w) => acc + length(w)) /
      greatest(nTokens, lit(1L))
    val punctBp = round(punct * lit(10000.0) / greatest(length(col("text")), lit(1)))
      .cast("long")
    val stopBp = round(stop * lit(10000.0) / greatest(nTokens, lit(1L))).cast("long")
    val qualityBp = least(nTokens, lit(100L)) * 400L +
      (lit(10000L) - punctBp) * 3L + least(stopBp * 5L, lit(10000L)) * 3L
    spread(spark, documents(spark, dir)).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      nTokens.as("n_tokens"),
      r4(punctRatio).as("punct_ratio"),
      r4(stopRatio).as("stopword_ratio"),
      r4(meanWordLen).as("mean_word_len"),
      qualityBp.as("quality_bp"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation marks), the standard
    * cheap token-budget estimator for LLM corpus accounting.
    */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    spread(spark, documents(spark, dir)).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"))
      .orderBy(col("doc_id"))

  /** (doc, term) -> tf, shared by the TF-IDF and BM25 scorers. Memo.cached
    * hands back the SAME pinned DataFrame per (session, dir): whichever
    * scorer runs first materializes the token aggregation once for both,
    * repeat calls don't stack InMemoryRelations, and the storage is
    * released when `dir`'s content changes (same pattern as the ML
    * feature matrix).
    */
  private[operators] def termFreq(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("termFreq", spark, dir) {
      spread(spark, documents(spark, dir))
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    }

  /** TF-IDF top-5 terms per document (smoothed idf, sklearn-style:
    * ln((N+1)/(df+1)) + 1). Three aggregations — (doc,term) tf, term df
    * derived FROM tf (no second pass over tokens), corpus size as one
    * broadcast row — then a per-doc top-k window. df is term-keyed and
    * stopword-skewed at corpus scale: that shuffle is the SkewOps
    * use case.
    */
  def qTfidf(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFreq(spark, dir)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = documents(spark, dir).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        r4(col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
          .as("tfidf"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy(col("doc_id"), col("rk"))
  }

  /** BM25 top-5 terms per document (Lucene-style: k1=1.2, b=0.75,
    * idf = ln(1 + (N−df+0.5)/(df+0.5))). Same three-aggregate shape as
    * [[qTfidf]] plus per-doc length and the broadcast corpus stats row
    * (N, avgdl). The formula is written in the identical operation order
    * on both engines; log/divide chains are irrational so 4 dp rounding
    * is boundary-safe.
    */
  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val k1 = 1.2; val b = 0.75
    val tf = termFreq(spark, dir)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // Corpus stats in ONE tiny broadcast row, derived from tf so the
    // population matches the oracle exactly: N = docs WITH at least one
    // token (a null/empty-text doc drops out of tf on both engines),
    // avgdl = Σtf / N (≡ avg over the per-doc sums, without
    // materializing the per-doc length table).
    val stats = tf
      .agg(countDistinct(col("doc_id")).as("n"),
        sum(col("tf")).cast("double").as("total_tokens"))
      .select(col("n"), (col("total_tokens") / col("n")).as("avgdl"))
    // dl is a window SUM over the same doc_id partition the top-k rank
    // needs anyway — one shuffle serves both, replacing the former
    // groupBy(doc_id)+join round-trip. The df join is left to AQE: at
    // this corpus it broadcasts from runtime stats, at web scale |vocab|
    // is a fact table and the term-keyed shuffle (the SkewOps case, as
    // in qTfidf) is the right plan — no forced hint either way.
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("bm25").desc, col("term").asc)
    tf.join(df, "term").crossJoin(broadcast(stats))
      .withColumn("dl", sum(col("tf")).over(wDoc))
      .select(col("doc_id"), col("term"),
        r4(log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * (col("tf") * (lit(k1) + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
          .as("bm25"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Stratified document sample: a fixed fraction per language, seeded —
    * the curation primitive for balancing a training corpus (downsample
    * over-represented languages). `sampleBy` pushes the per-stratum
    * Bernoulli draw into the scan (no shuffle); seeded → reproducible on
    * one engine, rows-only across engines.
    */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val langs = markers.map(_._1)
    val fractions = langs.map(_ -> 0.2).toMap
    documents(spark, dir)
      .stat.sampleBy("lang", fractions, 42L)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Rolling-hash document fingerprint (winnowing-lite): the minimum md5
    * over word 3-shingles and over rolling 8-char grams. Two documents
    * sharing large content overlap collide on these with high probability
    * — the per-doc half of a fingerprint-join dedup at corpus scale.
    */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    spread(spark, documents(spark, dir))
      .select(col("doc_id"), col("text"), tokens(col("text")).as("t"))
      .select(col("doc_id"), shingles(col("t"), 3).as("sh"), charGrams(col("text"), 8).as("cg"))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        array_min(transform(col("sh"), s => md5(s))).as("shingle_fp"),
        array_min(transform(col("cg"), s => md5(s))).as("chargram_fp"))
      .orderBy(col("doc_id"))

  /** Token-window chunk size / stride for [[qChunkDocs]] (25% overlap). */
  val ChunkSize = 20
  val ChunkStride = 15

  /** Document chunking: overlapping token windows (size 20, stride 15) —
    * the context-window splitter every LLM training pipeline runs before
    * tokenization. Pure per-row explode (narrow, no shuffle until the
    * final order); chunk text is emitted as an 8-hex-char md5 prefix, not
    * the text itself, so the output stays narrow at corpus scale.
    */
  def qChunkDocs(spark: SparkSession, dir: String): DataFrame =
    spread(spark, documents(spark, dir))
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 1, lit(ChunkStride))).as("s"))
      .withColumn("chunk", slice(col("t"), col("s") + 1, lit(ChunkSize)))
      .select(col("doc_id"),
        (col("s") / ChunkStride).cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        substring(md5(concat_ws(" ", col("chunk"))), 1, 8).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** A chunk hash is "boilerplate" when it appears in at least this many
    * DISTINCT documents (CCNet-style: a span two docs share is likely a
    * quote; a span three or more share is a template/header). */
  val BoilerMinDocs = 3

  /** Boilerplate attribution at CHUNK granularity per source: how much of
    * each source's chunk mass is template/header material shared by ≥
    * [[BoilerMinDocs]] DISTINCT documents. The source-level triage view
    * that decides where a boilerplate-stripping pass pays for itself —
    * [[qWindowDup]] answers "which spans of THIS doc are duplicated";
    * this answers "which SOURCE is shipping templates". Same token
    * windows as [[qChunkDocs]] (size 20, stride 15), so a flagged source
    * can be drilled into with the chunk dump directly. Shuffle shape: one
    * ǀchunk-hashǀ-keyed df rollup (map-side combined), one hash-keyed
    * back-join of the ≥3-doc survivors, one ǀsourcesǀ-row rollup — no
    * pair term anywhere, linear in corpus size. All-integer output.
    */
  def qBoilerplateChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = spread(spark, documents(spark, dir))
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0), size(col("t")) - 1, lit(ChunkStride))).as("s"),
        col("t"))
      .select(col("doc_id"), col("source"),
        substring(md5(concat_ws(" ",
          slice(col("t"), col("s") + 1, lit(ChunkSize)))), 1, 8).as("chunk_hash"))
    val boiler = chunks.groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("df_docs"))
      .filter(col("df_docs") >= BoilerMinDocs)
    chunks.join(boiler, Seq("chunk_hash"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df_docs").isNotNull, 1L).otherwise(0L)).as("n_boiler_chunks"),
        countDistinct(when(col("df_docs").isNotNull, col("chunk_hash")))
          .as("n_boiler_hashes"))
      .select(col("source"), col("n_chunks"), col("n_boiler_chunks"),
        col("n_boiler_hashes"),
        expr("n_boiler_chunks * 10000 div n_chunks").as("boiler_bp"))
      .orderBy(col("source"))
  }

  /** Corpus-filter thresholds for [[qCorpusFilter]]. */
  val MinTokens = 40
  val MaxDupBigramRatio = 0.05

  /** The end-to-end curation verdict: per document, the keep/drop
    * decision a training-data pipeline actually executes — length gate,
    * repetition gate (Gopher-style dup-bigram ratio), and near-dup
    * survivorship (one doc per MinHash cluster) — with per-gate flags so
    * drops are attributable. Composes [[qRepetition]] and
    * [[graft.operators.DedupOps.qDedupClusters]] on a doc-keyed join;
    * every component is independently oracle-verified, and so is this
    * composition.
    */
  def qCorpusFilter(spark: SparkSession, dir: String): DataFrame = {
    val rep = qRepetition(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("dup_bigram_ratio"))
    val surv = graft.operators.DedupOps.qDedupClusters(spark, dir)
      .select(col("doc_id"), col("is_survivor"))
    // surv covers EVERY document (clusters left-join from the doc table);
    // rep is derived from exploded tokens, so null-/empty-text docs have
    // no row there. Left-join so token-less docs still get a verdict:
    // n_tokens=0, len_ok=0, keep=0 — a curation pipeline must emit a drop
    // decision for them, not silently omit the row.
    surv.join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("dup_bigram_ratio"),
        col("is_survivor"))
      .select(col("doc_id"), col("n_tokens"), col("dup_bigram_ratio"),
        when(col("n_tokens") >= MinTokens, 1L).otherwise(0L).as("len_ok"),
        when(col("dup_bigram_ratio") <= MaxDupBigramRatio, 1L).otherwise(0L)
          .as("rep_ok"),
        col("is_survivor").as("dedup_ok"))
      .withColumn("keep",
        (col("len_ok") === 1 && col("rep_ok") === 1 && col("dedup_ok") === 1)
          .cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Corpus curation funnel — the "data card" headline artifact every
    * training corpus publishes: per pipeline stage (raw → length gate →
    * repetition gate → dedup survivorship), how many documents entered,
    * how many survived, and the stage keep-rate. Stage i's intake IS
    * stage i−1's survivors, so the report reads as the sequential
    * filter chain a curation run applies. ONE aggregation over the
    * per-doc verdict frame ([[qCorpusFilter]]) computes every stage
    * count; the 4 stage rows explode from that single broadcast-sized
    * row — no second corpus scan.
    */
  def qCorpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    val cf = qCorpusFilter(spark, dir)
    val a = cf.agg(
      count(lit(1)).as("n0"),
      sum(col("len_ok")).as("n1"),
      sum(when(col("len_ok") === 1 && col("rep_ok") === 1, 1L).otherwise(0L))
        .as("n2"),
      sum(col("keep")).as("n3"))
    a.select(explode(array(
        struct(lit("0_raw").as("stage"), col("n0").as("din"), col("n0").as("dk")),
        struct(lit("1_length").as("stage"), col("n0").as("din"), col("n1").as("dk")),
        struct(lit("2_repetition").as("stage"), col("n1").as("din"), col("n2").as("dk")),
        struct(lit("3_dedup").as("stage"), col("n2").as("din"), col("n3").as("dk"))))
        .as("x"))
      .select(col("x.stage").as("stage"),
        col("x.din").cast("long").as("docs_in"),
        col("x.dk").cast("long").as("docs_kept"),
        r4(col("x.dk") / greatest(col("x.din"), lit(1L))).as("keep_rate"))
      .orderBy(col("stage"))
  }

  /** Repetition signals (Gopher-style quality filters): unique-token
    * ratio, most-frequent-token fraction, and duplicate-bigram ratio per
    * document. Token stats come from the shared (doc, term) frequency
    * aggregate ([[termFreq]], cached); distinct bigrams from the
    * single-kernel [[graft.functions.ShingleHash32]] (k=2) — the join is
    * doc-keyed on two already-narrow sides.
    */
  def qRepetition(spark: SparkSession, dir: String): DataFrame = {
    val ts = termFreq(spark, dir).groupBy(col("doc_id")).agg(
      sum(col("tf")).as("n_tokens"),
      count(lit(1)).as("uniq_tokens"),
      max(col("tf")).as("top_c"))
    val bs = spread(spark, documents(spark, dir)).select(col("doc_id"),
      size(graft.functions.ShingleHash32(col("text"), 2)).cast("long").as("uniq_bigrams"))
    ts.join(bs, "doc_id").select(
      col("doc_id"), col("n_tokens"), col("uniq_tokens"),
      r4(col("uniq_tokens") / col("n_tokens")).as("uniq_token_ratio"),
      r4(col("top_c") / col("n_tokens")).as("top_token_frac"),
      greatest(col("n_tokens") - 1, lit(0L)).as("n_bigrams"),
      col("uniq_bigrams"),
      r4(lit(1) - col("uniq_bigrams") / greatest(col("n_tokens") - 1, lit(1L)))
        .as("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary statistics: document frequency and total term
    * frequency of every term, top-50 — the global term dictionary every
    * tokenizer/vocab build starts from. Derived FROM the shared (doc,
    * term) tf aggregation (no second tokenization pass); the term-keyed
    * rollup shuffles |vocab| rows, not |tokens|.
    */
  def qVocab(spark: SparkSession, dir: String): DataFrame =
    termFreq(spark, dir)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(50)

  /** Token frequency-of-frequencies spectrum in decimal-digit buckets:
    * per corpus-frequency magnitude, how many vocabulary TYPES live
    * there and what share of all TOKEN mass they carry (exact integer
    * basis points) — the Heaps/Zipf table a tokenizer build reads to
    * size its vocabulary (the 1-digit bucket is the hapax tail a BPE
    * merge never reaches; the top bucket is the function-word head
    * that saturates merges early), and the aggregate twin of
    * [[qZipfFit]]'s slope estimate. One |vocab|-keyed rollup of the
    * Memo-shared (doc, term) tf frame + a ≤10-row digit rollup; the
    * corpus total arrives as ONE broadcast row — nothing beyond
    * termFreq's own shuffle moves at any corpus size. All-integer
    * output, nothing for the hash to drift on.
    */
  /** Corpus-level term frequencies — a |vocab|-keyed rollup of the shared
    * (doc, term) tf frame, Memo.cached because the spectrum, the bigram
    * LM normalizer, and any future vocab consumer all want the same rows.
    */
  private def corpusTermFreq(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("corpusTermFreq", spark, dir) {
      termFreq(spark, dir).groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    }

  def qTokenFreqSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val ctf = corpusTermFreq(spark, dir)
    val tot = ctf.agg(sum(col("ctf")).as("tot"))
    ctf.groupBy(length(col("ctf").cast("string")).cast("long").as("freq_digits"))
      .agg(count(lit(1)).as("n_types"), sum(col("ctf")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("freq_digits"), col("n_types"), col("n_tokens"),
        expr("n_tokens * 10000 div tot").as("token_share_bp"))
      .orderBy(col("freq_digits"))
  }

  /** Per-document unigram surprisal under the corpus's own add-one-
    * smoothed language model: mean −ln p(term) per token, where
    * p(term) = (ctf + 1)/(T + V) — the KenLM-perplexity-filter stand-in
    * (a doc whose words the corpus finds improbable is boilerplate,
    * another language, or noise; CCNet/Gopher filter on exactly this
    * signal). Everything derives from the shared (doc, term) tf frame:
    * corpus term frequencies are a term-keyed rollup of it, the (T, V)
    * normalizer is ONE broadcast row, and the per-doc mean is a doc-keyed
    * aggregation — no second tokenization pass, three shuffles total.
    * ln is irrational so the 4-dp rounding is boundary-safe.
    */
  def qUnigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFreq(spark, dir)
    val ctf = tf.groupBy(col("term").as("cterm")).agg(sum(col("tf")).as("ctf"))
    val norm = ctf.agg(sum(col("ctf")).as("t_tokens"),
      count(lit(1)).as("v_size"))
    tf.join(ctf, col("term") === col("cterm"))
      .crossJoin(broadcast(norm))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        r4(sum(-col("tf") *
            log((col("ctf") + lit(1.0)) / (col("t_tokens") + col("v_size")))) /
          sum(col("tf"))).as("surprisal"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic WEIGHTED sample without replacement (Efraimidis–
    * Spirakis 2006): each doc draws u ∈ (0,1] from its md5 (seeded,
    * engine-portable) and ranks by u^(1/w) with w = n_chars — longer
    * documents proportionally likelier, the quality/length-weighted
    * corpus subsetting the uniform [[qDetSample]] can't express. Top-k
    * by a sort key IS the distributed algorithm: Spark plans
    * TakeOrderedAndProject (per-partition top-k, merge k·partitions at
    * the driver), one narrow pass, no global sort shuffle. The key is
    * rounded to 9 dp before ranking so last-ulp libm pow differences
    * between engines can't reorder the boundary (doc_id breaks in-bucket
    * ties identically on both sides).
    */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("#graft-wsample-42"))), 1, 8), 16, 10).cast("long") + 1) / lit(4294967296.0)
    documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(pow(u, lit(1.0) / col("n_chars")), 9).as("sample_key"))
      .orderBy(col("sample_key").desc, col("doc_id"))
      .limit(20)
  }

  /** Deterministic pseudo-random per-language sample (top-20 docs per
    * language by md5(doc_id ⊕ seed) order): reservoir-style fixed-size
    * sampling made REPRODUCIBLE across engines and partitionings — the
    * corpus-subsetting primitive where "same input ⇒ same sample" is a
    * requirement (eval sets, ablations). One window over the language
    * partition; the hash order is uncorrelated with any data column.
    */
  def qDetSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("h").asc, col("doc_id").asc)
    documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(concat(col("doc_id").cast("string"), lit("#graft-sample-42")))
          .as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** PII patterns shared by the redactor and its oracle/spec. Kept to
    * constructs with IDENTICAL semantics in Java regex and RE2 (DuckDB):
    * explicit classes, bounded repeats, ASCII \b word boundaries — no
    * lookarounds, no backrefs.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"))

  /** Apply every PII mask in declared order (order matters: SSN before
    * IP keeps dotted-quad-lookalike digit runs from being half-masked).
    * Pure per-row regex work — narrow, codegen'd, scan-speed at 100 TB.
    */
  def redact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** PII redaction over the corpus: per-pattern match counts (taken on
    * the ORIGINAL text, so overlapping masks can't hide each other) plus
    * the masked text — the privacy-scrubbing pass every training-data
    * pipeline runs before anything leaves the raw zone.
    */
  def qRedact(spark: SparkSession, dir: String): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long").as(s"n_$name")
    }
    spread(spark, documents(spark, dir))
      .select(col("doc_id") +: counts :+ redact(col("text")).as("redacted"): _*)
      .orderBy(col("doc_id"))
  }

  /** Word co-occurrence PMI over a ±2 skip-gram window — the
    * word2vec/GloVe preprocessing primitive (count pairs, weigh by
    * pointwise mutual information). Pair generation is IN-ROW: two
    * shifted `zip_with`s emit (wᵢ, wᵢ₊₁) and (wᵢ, wᵢ₊₂) per document in
    * one narrow projection — no positional self-join, so nothing
    * token-level ever shuffles; only (wa, wb) pair partials do (map-side
    * combined, key space = vocab², tiny next to the corpus). Marginals
    * and the total derive FROM the pair counts (two re-aggregations of
    * the small pair frame + a 1-row broadcast), the same shape as
    * q_rare_access_pmi. Top-100 most-associated pairs.
    */
  def qCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    def shifted(dist: Int): Column =
      when(size(t) >= dist + 1,
        zip_with(slice(t, lit(1), size(t) - dist), slice(t, lit(dist + 1), size(t) - dist),
          (x, y) => struct(x.as("wa"), y.as("wb"))))
        .otherwise(array().cast("array<struct<wa:string,wb:string>>"))
    // Pinned: the pair aggregation feeds FOUR consumers below (pairs,
    // both marginals, the total) — uncached, each re-runs the explode +
    // count over the corpus.
    val pairs = graft.Memo.cached("coocPairs", spark, dir) {
      spread(spark, documents(spark, dir))
        .select(explode(concat(shifted(1), shifted(2))).as("p"))
        .groupBy(col("p.wa").as("wa"), col("p.wb").as("wb"))
        .agg(count(lit(1)).as("c"))
    }
    val la = pairs.groupBy(col("wa").as("ma")).agg(sum("c").as("ca"))
    val ra = pairs.groupBy(col("wb").as("mb")).agg(sum("c").as("cb"))
    val tot = pairs.agg(sum("c").cast("double").as("total"))
    pairs.join(la, col("wa") === col("ma"))
      .join(ra, col("wb") === col("mb"))
      .join(broadcast(tot))
      .select(col("wa"), col("wb"), col("c"),
        r4(log2(col("c") * col("total") / (col("ca") * col("cb")))).as("pmi"))
      .orderBy(col("pmi").desc, col("wa"), col("wb"))
      .limit(100)
  }

  /** Data-mixture report + reweighting plan: per source (the
    * domain/provenance axis every pretraining corpus is mixed along),
    * document and token counts, the source's share of the corpus token
    * budget in exact basis points, and the resampling weight that would
    * equalize token share across sources (weight > 1 ⇒ upsample). The
    * mixture weights that govern a training run reduce to exactly this
    * |sources|-row table. Shape: one narrow token-count projection, one
    * source-keyed aggregation (map-side combined), the corpus total as a
    * 1-row broadcast — shares/weights are single double ops over exact
    * longs, so both engines compute identical values.
    */
  def qSourceMix(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 10000 div total_tokens").as("share_bp"),
        r4(col("total_tokens") / (col("n_sources") * col("n_tokens")))
          .as("uniform_weight"))
      .orderBy(col("source"))
  }

  /** Temperature-scaled source sampling rates — the resampling rule
    * multilingual/pretraining mixes actually train under (p_i ∝ n_i^α;
    * α = 1/T): raw uniform mixing starves small sources, and α < 1
    * flattens the mix. α = 0.5 (T = 2). To stay hash-exact cross-engine,
    * the rate is emitted RELATIVE TO THE LARGEST SOURCE —
    * `temp_ratio = √(n_tokens/max_tokens)` — which is the per-source
    * upsampling rate a T=2 sampler applies before renormalizing: one
    * exact-long division, one IEEE-correctly-rounded sqrt, one r4 —
    * no multi-term float summation anywhere (a Σ√n denominator would
    * hang the 4-dp hash on float reduction order; max() is exact).
    * Shape: the |sources|-row token rollup of [[qSourceMix]] plus a
    * 1-row broadcast max — nothing data-sized moves.
    */
  def qTemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("total_tokens"),
      max(col("n_tokens")).as("max_tokens"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 10000 div total_tokens").as("share_bp"),
        r4(sqrt(col("n_tokens").cast("double") / col("max_tokens")))
          .as("temp_ratio"))
      .orderBy(col("source"))
  }

  /** Lexical diversity per source: type-token ratios as a data-quality
    * screen (templated/spammy text repeats its vocabulary; TTR collapses
    * long before a perplexity filter notices). Per doc, toks = |tokens|
    * and types = |distinct tokens| are exact integers; the rollup emits
    * per-source exact sums, ONE r4'd double (micro-TTR = Σtypes/Σtoks —
    * the repo's one-division convention), and two integer-threshold
    * counts (types·2 ≤ toks → low-diversity; types·10 ≥ toks·9 →
    * high-diversity) chosen over per-doc rounded ratios deliberately:
    * a min/max over r4'd doubles would hang the hash on the engines'
    * .xxxx5 rounding disagreement, while integer cross-multiplication
    * compares the SAME rationals exactly on both sides. One
    * source-keyed agg; the distinct-count runs inside the per-doc row
    * (array_distinct), never a corpus-wide shuffle.
    */
  def qLexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("source"), tokens(col("text")).as("t"))
      .select(col("source"), size(col("t")).cast("long").as("toks"),
        size(array_distinct(col("t"))).cast("long").as("types"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("sum_tokens"),
        sum(col("types")).as("sum_types"),
        sum(when(col("types") * 2 <= col("toks"), 1L).otherwise(0L))
          .as("n_low_diversity"),
        sum(when(col("types") * 10 >= col("toks") * 9, 1L).otherwise(0L))
          .as("n_high_diversity"))
      .select(col("source"), col("n_docs"), col("sum_tokens"),
        col("sum_types"),
        r4(col("sum_types").cast("double") / col("sum_tokens")).as("micro_ttr"),
        col("n_low_diversity"), col("n_high_diversity"))
      .orderBy(col("source"))

  /** Documents per packing block and token budget per packed sequence
    * for [[qPackDocs]]. 32-doc blocks bound the per-group fold state;
    * 256 tokens ≈ 4-8 synthetic docs per sequence. */
  val PackBlock = 32
  val PackBudget = 256

  /** Training-sequence packing plan: assign each document to a fixed
    *-token-budget training sequence by greedy first-fit-sequential
    * packing (a doc that would overflow the open sequence closes it;
    * an oversized doc gets a sequence of its own) — the step that turns
    * a curated corpus into fixed-length pretraining rows. Packing is a
    * sequential recurrence, so it runs inside bounded independent
    * units: docs are packed within [[PackBlock]]-doc blocks (doc_id
    * DIV 32), in doc_id order. Blocks are embarrassingly parallel —
    * the 100 TB shape is "pack within shard", which is what production
    * packers do — and the per-block fold is ONE `aggregate` HOF over a
    * ≤32-element sorted array: state is (open seq, fill), output the
    * per-doc assignment. One block-keyed shuffle of (doc_id, toks)
    * pairs, nothing token-level moves. Oracle = recursive CTE replaying
    * the same fold one doc per iteration across all blocks.
    */
  def qPackDocs(spark: SparkSession, dir: String): DataFrame = {
    val grouped = documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("toks"),
        expr(s"doc_id div $PackBlock").as("block"))
      .groupBy(col("block"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("toks")))).as("items"))
    val budget = lit(PackBudget.toLong)
    val outType = "array<struct<doc_id:bigint,toks:bigint,seq:bigint>>"
    val folded = grouped.select(col("block"),
      aggregate(col("items"),
        struct(lit(0L).as("seq"), lit(0L).as("fill"),
          array().cast(outType).as("out")),
        (acc, x) => {
          val overflow = acc("fill") > 0 && acc("fill") + x("toks") > budget
          val seq = when(overflow, acc("seq") + 1).otherwise(acc("seq"))
          val fill = when(overflow, x("toks")).otherwise(acc("fill") + x("toks"))
          struct(seq.as("seq"), fill.as("fill"),
            concat(acc("out"), array(struct(x("doc_id").as("doc_id"),
              x("toks").as("toks"), seq.as("seq")))).as("out"))
        },
        acc => acc("out")).as("packed"))
    folded.select(col("block"), explode(col("packed")).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("p.toks").as("toks"),
        col("block"), col("p.seq").as("seq_in_block"))
      .orderBy(col("doc_id"))
  }

  /** Packing-efficiency profile of [[qPackDocs]]' plan: per
    * docs-per-sequence bucket, how many training sequences exist, their
    * total token fill, the fill rate against [[PackBudget]] in integer
    * basis points, and how many sequences OVERFLOW the budget (a
    * single doc longer than the budget gets its own over-budget
    * sequence — the truncation-policy signal). This is the dial a
    * pipeline reads before choosing sequence length: a fat 1-doc/low
    * -fill bucket means the budget is too small for the corpus'
    * document lengths, a high overflow count means long docs need
    * chunking first ([[qChunkDocs]]). Two bounded rollups over the
    * packer's output — nothing beyond the pack fold's own shuffle
    * moves, so the profile is free at any corpus size. All-integer
    * output (counts + div-basis-points).
    */
  def qPackEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val bins = qPackDocs(spark, dir)
      .groupBy(col("block"), col("seq_in_block"))
      .agg(count(lit(1)).as("docs"), sum(col("toks")).as("fill"))
    bins.groupBy(col("docs").as("docs_per_bin"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("fill")).as("total_fill"),
        sum(when(col("fill") > PackBudget, 1L).otherwise(0L)).as("n_overflow"))
      .select(col("docs_per_bin"), col("n_bins"), col("total_fill"),
        expr(s"total_fill * 10000 div (n_bins * $PackBudget)").as("fill_bp"),
        col("n_overflow"))
      .orderBy(col("docs_per_bin"))
  }

  /** Cross-source vocabulary overlap: pairwise Jaccard of the DISTINCT
    * token sets of each source, in integer basis points — the
    * contamination/mirror detector at the SOURCE granularity (two crawl
    * sources whose vocabularies overlap at 9000 bp are mirrors of the
    * same site; a source overlapping nothing is a different language or
    * a parser bug), complementing [[DedupOps.qCrossSourceDup]]'s
    * document-level matrix. One distinct projection to (source, token)
    * — the only corpus-sized shuffle, token-keyed — then a token-keyed
    * self-join whose output is bounded by |vocab|·|sources|² and a
    * |sources|²-row rollup. Pairs with an empty intersection are
    * definitionally absent on both engines (no outer grid, no
    * cartesian). The distinct frame is Memo-pinned: sizes and overlaps
    * read it once each.
    */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = graft.Memo.cached("sourceVocab", spark, dir) {
      documents(spark, dir)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .distinct()
    }
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("vocab"))
    st.as("a").join(st.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("source").as("source_a"), col("vocab").as("vocab_a")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("vocab").as("vocab_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("vocab_a"), col("vocab_b"),
        col("shared"),
        expr("shared * 10000 div (vocab_a + vocab_b - shared)").as("jaccard_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** KL divergence of each language slice's unigram distribution from
    * the corpus distribution, add-one smoothed over the SHARED corpus
    * vocabulary: KL(p_lang ‖ p_corpus) = Σ_t p̂·ln(p̂/q̂) with
    * p̂ = (ltf+1)/(T_lang+V), q̂ = (ctf+1)/(T+V) — the domain-mixing
    * diagnostic (which slice's token distribution is furthest from the
    * blend it contributes to) a training-data pipeline reads before
    * reweighting sources, and the quantitative form of the language-ID
    * signal [[qLangId]] thresholds.
    *
    * Everything derives from the shared (doc, term) tf frame: lang term
    * frequencies are one (lang, term)-keyed rollup, corpus frequencies a
    * term-keyed rollup of THAT, and the smoothing grid is corpus-vocab ×
    * |langs| via a bounded broadcast cross (|langs| is fixed at any
    * corpus size; absent terms still contribute their smoothed floor, so
    * the left join keeps the full vocab). The summed ln terms are
    * irrational, so 4-dp rounding is boundary-safe.
    */
  def qKlDivergence(spark: SparkSession, dir: String): DataFrame = {
    val langTf = termFreq(spark, dir)
      .join(documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("term")).agg(sum(col("tf")).as("ltf"))
    val ctf = langTf.groupBy(col("term")).agg(sum(col("ltf")).as("ctf"))
    val cn = ctf.agg(sum(col("ctf")).as("t_all"), count(lit(1)).as("v"))
    val langN = langTf.groupBy(col("lang")).agg(sum(col("ltf")).as("t_lang"))
    val grid = ctf.crossJoin(broadcast(langN))
      .join(langTf, Seq("lang", "term"), "left")
      .withColumn("ltf", coalesce(col("ltf"), lit(0L)))
    val p = (col("ltf") + lit(1.0)) / (col("t_lang") + col("v"))
    val q = (col("ctf") + lit(1.0)) / (col("t_all") + col("v"))
    grid.crossJoin(broadcast(cn))
      .groupBy(col("lang"))
      .agg(max(col("t_lang")).as("n_tokens"),
        sum(when(col("ltf") > 0, 1L).otherwise(0L)).as("vocab_used"),
        r4(sum(p * log(p / q))).as("kl_nats"))
      .orderBy(col("lang"))
  }

  /** First-round byte-pair-encoding merge candidates: corpus-weighted
    * frequency of every adjacent CHARACTER pair inside whitespace
    * tokens, top-50 — the statistic the first BPE merge maximizes
    * (Sennrich 2016), and the vocabulary-induction primitive a tokenizer
    * build runs over the whole corpus. Pair extraction happens on the
    * DISTINCT-term frame weighted by corpus term frequency (|vocab|
    * rows, not |tokens| — a term's pairs are counted once and multiplied
    * by its frequency), so the per-row work is bounded by term length
    * and the only shuffle is the |pairs|-keyed rollup. Counts are exact
    * longs end to end.
    */
  def qBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val ctf = termFreq(spark, dir)
      .groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
      .filter(length(col("term")) >= 2)
    ctf.select(col("ctf"), explode(transform(
        sequence(lit(1), length(col("term")) - 1),
        i => col("term").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("ctf")).as("freq"), count(lit(1)).as("n_contexts"))
      .orderBy(col("freq").desc, col("pair").asc)
      .limit(50)
  }

  /** Rank cutoff for [[qZipfFit]]'s regression — the OLS runs on the
    * head of the frequency distribution, where Zipf behavior lives (the
    * long tail of hapaxes flattens the log-log line in every corpus). */
  val ZipfTopK = 1000

  /** Zipf's-law fit over the corpus unigram distribution: OLS of
    * ln(freq) on ln(rank) for the top-[[ZipfTopK]] terms. A natural
    * corpus runs slope ≈ −1; a heavily templated or machine-generated
    * corpus bends away from it, so the slope (with r² as fit quality) is
    * a one-row corpus-health gauge the curation funnel can gate on.
    *
    * Shape: term frequencies are a rollup of the pinned (doc, term) tf
    * frame; ranking the ǀvocabǀ-sized frequency table runs through the
    * two-phase exact rank ([[graft.operators.RankOps.withGlobalRank]]
    * on (ctf DESC, term ASC)) — never an unpartitioned window — and the
    * regression itself is ONE aggregation over the ≤ [[ZipfTopK]]
    * surviving rows: slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) on ln doubles,
    * r4-rounded once like every derived double here.
    */
  def qZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val ctf = termFreq(spark, dir)
      .groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val ranked = graft.operators.RankOps.withGlobalRank(ctf, "rank",
        Seq(col("ctf").desc, col("term").asc))
      .filter(col("rank") <= ZipfTopK)
    val x = log(col("rank").cast("double"))
    val y = log(col("ctf").cast("double"))
    val s = ranked.agg(count(lit(1)).as("n_terms"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    def d(c: String): Column = col(c).cast("double")
    val n = d("n_terms")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val varX = n * col("sxx") - col("sx") * col("sx")
    val varY = n * col("syy") - col("sy") * col("sy")
    s.select(col("n_terms"),
      r4(cov / varX).as("zipf_slope"),
      r4((col("sy") - (cov / varX) * col("sx")) / n).as("intercept"),
      r4(cov * cov / (varX * varY)).as("r2"))
  }

  /** Character-window width and stride for [[qWindowDup]]. 64-char
    * windows at stride 32 (50% overlap) — small enough to catch a
    * repeated sentence, overlapping so a duplicated span can't hide by
    * straddling a boundary. Recall caveat: the grid is position-based,
    * so matches require the repeat to sit at offsets congruent mod
    * stride in both documents — whole-doc clones, shared prefixes and
    * templated layouts qualify; an arbitrary-offset shared span needs
    * stride→1 (the suffix-array regime, ×stride the windows). */
  val DupWindow = 64
  val DupStride = 32

  /** Exact substring-level duplication profile (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better" signal,
    * at window granularity): every doc is cut into overlapping
    * [[DupWindow]]-char windows, windows are content-hashed, and a
    * window whose hash occurs in MORE THAN ONE document marks a
    * duplicated span. Per doc: window count, duplicated-window count,
    * duplicated fraction — the gate that catches partial boilerplate
    * (headers, footers, templated paragraphs) which document-level
    * near-dup scoring dilutes below any threshold.
    *
    * Shape: window generation is a narrow per-row explode (positions
    * from an in-row sequence — nothing token-level shuffles); df is ONE
    * md5-keyed count aggregation; the per-doc rollup joins window→df on
    * the hash key (big⋈big equi join, linear in corpus size) and
    * aggregates by doc. No pair, no quadratic term anywhere — this is
    * the scale-safe exact-substring complement to the MinHash/SimHash
    * document-level family.
    */
  def qWindowDup(spark: SparkSession, dir: String): DataFrame = {
    val wins = spread(spark, documents(spark, dir))
      .select(col("doc_id"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - lit(DupWindow - 1), lit(1)),
          lit(DupStride))).as("pos"),
        col("text"))
      .select(col("doc_id"),
        md5(col("text").substr(col("pos"), lit(DupWindow))).as("wh"))
    val df = wins.groupBy(col("wh"))
      .agg(count_distinct(col("doc_id")).as("wdf"))
    wins.join(df, Seq("wh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("wdf") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        r4(col("n_dup_windows").cast("double") /
          col("n_windows").cast("double")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Per-source token-length distribution — the data-card histogram every
    * corpus release publishes (and the input to sequence-packing / context
    * budgeting decisions). Buckets are EXACT log₂ bins via the same
    * integer bin-string trick as q_degree_dist (len(bin(n))−1 — no libm
    * log to diverge cross-engine; bucket −1 = zero-token docs). One
    * narrow scan + one (source, bucket) aggregation; the per-source doc
    * share is exact integer basis points. At 100 TB this is a scan-bound
    * two-column rollup — |sources|·|buckets| result rows.
    */
  def qTokenLenDist(spark: SparkSession, dir: String): DataFrame = {
    val toks = spread(spark, documents(spark, dir))
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .select(col("source"), col("nt"),
        when(col("nt") <= 0L, lit(-1L))
          .otherwise((length(bin(col("nt"))) - 1).cast("long")).as("bucket"))
    val perSrc = toks.groupBy(col("source")).agg(count(lit(1)).as("src_docs"))
    toks.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
        min(col("nt")).as("min_tokens"), max(col("nt")).as("max_tokens"))
      .join(perSrc, Seq("source"))
      .select(col("source"), col("bucket"), col("n_docs"), col("total_tokens"),
        col("min_tokens"), col("max_tokens"),
        expr("n_docs * 10000 div src_docs").as("share_bp"))
      .orderBy(col("source"), col("bucket"))
  }

  /** Per-document n-gram NOVELTY against everything earlier in the corpus
    * (doc_id order): the fraction of a doc's distinct word-5-shingle
    * hashes whose FIRST corpus occurrence is this doc. The
    * dedup-adjacent curriculum signal ("how much does this doc add?") —
    * boilerplate scores near 0, fresh content near 10⁴ bp. One
    * first-occurrence aggregation over the exploded shingle hashes
    * (term-keyed, map-side combined) + one hash-keyed join back; never
    * doc×doc. Docs too short for a 5-shingle are vacuously novel
    * (10⁴ bp, 0 shingles). Exact integer basis points.
    */
  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // per-doc distinct 5-shingles come from the Memo-cached frame shared
    // with the decontamination family — shingling is computed once per
    // (session, dir) across all three consumers
    val h = DedupOps.docShingle5(spark, dir)
      .select(col("doc_id"), explode(col("sh5")).as("h"))
    val first = h.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val nov = h.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    DedupOps.docShingle5(spark, dir).select(col("doc_id"))
      .join(nov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0L, lit(10000L))
          .otherwise(expr("n_novel * 10000 div n_shingles")).as("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  /** Per-document character-level Shannon entropy — the compressibility
    * signal quality filters use beside token ratios (low entropy =
    * repeated boilerplate/filler; abnormally high = binary junk or
    * encoding damage in a text feed). Explode to one row per character
    * via substr over an in-row index sequence (the same expression shape
    * on both engines — no regex-split semantics to diverge), count per
    * (doc, char) — a map-side-combinable aggregation whose shuffle
    * carries ≤|alphabet| rows per doc per mapper — then
    * H = −Σ (c/n)·ln(c/n) from exact integer counts; only the final
    * ≤|alphabet|-term sum is float, bounded and 4-dp rounded (the
    * q_activity_entropy precedent, ×10-gate proven). Empty docs emit
    * entropy 0 with n_chars 0 via the restoring left join.
    */
  def qCharEntropy(spark: SparkSession, dir: String): DataFrame = {
    // filter BEFORE the sequence: Spark's sequence(1, 0) produces the
    // DESCENDING [1, 0] (default step −1), not an empty array — an empty
    // doc would phantom two rows; empty docs re-enter via the left join
    val chars = spread(spark, documents(spark, dir))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(sequence(lit(1), length(col("text")))).as("i"),
        col("text"))
      .select(col("doc_id"), expr("substr(text, i, 1)").as("ch"))
    val counts = chars.groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
    val p = col("c").cast("double") / col("n")
    val ent = counts.join(totals, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_chars"), max(col("k")).as("n_distinct_chars"),
        r4(-sum(p * log(p))).as("char_entropy"))
    documents(spark, dir).select(col("doc_id"))
      .join(ent, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_distinct_chars"), lit(0L)).as("n_distinct_chars"),
        coalesce(col("char_entropy"), lit(0.0)).as("char_entropy"))
      .orderBy(col("doc_id"))
  }

  /** Per-document (doc, w1, w2) adjacent-bigram frequencies — the bigram
    * twin of [[termFreq]], Memo.cached for the same reason: the LM scorer
    * and any future Markov-style text consumer share one pinned copy.
    * Docs with fewer than two tokens have no bigrams and drop here (they
    * re-enter consumers via a left join when the consumer needs them).
    */
  private def bigramFreq(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached("bigramFreq", spark, dir) {
      spread(spark, documents(spark, dir))
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2")))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("tf"))
    }

  /** Per-document bigram surprisal under the corpus's own add-one-smoothed
    * bigram LM: mean −ln p(w₂|w₁) per bigram token, with
    * p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V) — one Markov order above
    * [[qUnigramSurprisal]], and the cheap stand-in for the KenLM 5-gram
    * perplexity filter (CCNet ranks documents by exactly this kind of
    * conditional cross-entropy; a doc whose TRANSITIONS the corpus finds
    * improbable is scrambled/generated text that unigram frequency can't
    * see). Shuffle shape: the Memo-shared (doc, w₁, w₂) tf frame, one
    * |bigram-vocab|-keyed rollup, a |unigram-vocab| first-word marginal
    * derived FROM that rollup (no extra token pass), the V normalizer as
    * ONE broadcast row, and a doc-keyed mean — every key is vocab-sized,
    * never corpus-sized. ln is irrational so 4-dp rounding is
    * boundary-safe; single-token/empty docs re-enter with NULL surprisal
    * and n_bigrams 0 via the restoring left join.
    */
  def qBigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val bg = bigramFreq(spark, dir)
    val cbg = bg.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c12"))
    val cw = cbg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = corpusTermFreq(spark, dir).agg(count(lit(1)).as("v_size"))
    val scored = bg
      .join(cbg, Seq("w1", "w2"))
      .join(cw, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        r4(sum(-col("tf") *
            log((col("c12") + lit(1.0)) / (col("c1") + col("v_size")))) /
          sum(col("tf"))).as("bigram_surprisal"))
    documents(spark, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("bigram_surprisal"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer fertility accounting per (lang, source): BPE-ish tokens per
    * whitespace word and characters per BPE token — THE table a tokenizer
    * choice is judged on (a language whose fertility runs high pays more
    * context budget per sentence, and a source whose chars-per-token runs
    * low is punctuation/code-heavy). All-integer output: sums of exact
    * per-doc counts, ratios in integer basis points / ×100 fixed-point
    * (`div`), nothing for the hash to drift on. One narrow scan + one
    * |langs|·|sources| rollup — scan-bound at 100 TB.
    */
  def qTokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    spread(spark, documents(spark, dir))
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("ws"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("nc")).as("n_chars"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("ws_tokens"), col("bpe_tokens"), col("n_chars"),
        expr("bpe_tokens * 10000 div greatest(ws_tokens, 1)").as("fertility_bp"),
        expr("n_chars * 100 div greatest(bpe_tokens, 1)").as("chars_per_token_x100"))
      .orderBy(col("lang"), col("source"))
}
