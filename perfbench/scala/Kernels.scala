package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{LevenshteinTrim, ShingleHash32, TextFunctions, VectorExpressions}
import graft.operators.DedupOps

/** Per-row cost of the program's public column builders. Each kernel
  * runs as a warm `noop` select over a cached input frame; its cost is
  * the median time of that select minus the median time of selecting the
  * same input columns bare, divided by the row count.
  */
object Kernels {
  private val Reps = 3
  /** Input rows per kernel: the corpus is replicated up to this size so
    * that per-row work, not per-job overhead, dominates each select. */
  private val TargetRows = 40000L

  def measure(spark: SparkSession, data: String): Map[String, Any] = {
    if (!spark.catalog.tableExists("documents")) return Map.empty
    val cpus = spark.sparkContext.defaultParallelism
    def pin(df: DataFrame, rows: Long = TargetRows): (DataFrame, Long) = {
      val copies = math.max(1L, rows / math.max(1L, df.count()))
      val c = df.crossJoin(spark.range(copies).toDF("copy")).drop("copy")
        .repartition(cpus).cache()
      (c, c.count())
    }
    // Neighbouring documents (and embeddings) paired by id: the pair
    // kernels see realistic, mostly dissimilar inputs.
    val docs = spark.table("documents").select(col("doc_id"), col("text"))
    val (hs, nHs) = pin(docs.select(col("doc_id"), ShingleHash32(col("text"), 3).as("hs")))
    val (text, nText) = pin(docs)
    val docPairs = docs.as("a").join(docs.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
    val (pairs, nPairs) = pin(docPairs.select(
      ShingleHash32(col("a.text"), 3).as("ha"), ShingleHash32(col("b.text"), 3).as("hb")))
    // the edit distance is quadratic in text length: a tenth of the rows
    val (texts, nTexts) = pin(docPairs.select(col("a.text").as("ta"), col("b.text").as("tb")),
      TargetRows / 10)
    val emb = spark.table("embeddings")
    val (vecs, nVecs) = pin(emb.as("a").join(emb.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
      .select(col("a.embedding").as("va"), col("b.embedding").as("vb")))

    def perRow(input: DataFrame, rows: Long, cols: Seq[Column]): Double = {
      def time(sel: Seq[Column]): Double = {
        val ts = (0 until Reps + 1).map { _ =>
          val t0 = System.nanoTime()
          Harness.noop(input.select(sel: _*))
          (System.nanoTime() - t0).toDouble
        }.tail
        Harness.median(ts)
      }
      val bare = time(input.columns.toSeq.map(col))
      math.max(0.0, time(cols) - bare) / rows
    }
    val mh = (0 until DedupOps.MinhashPerms).map(j => TextFunctions.minhash(col("hs"), j))
    val res = Map(
      "shingle_hash32_ns_per_row" -> perRow(text, nText, Seq(ShingleHash32(col("text"), 3))),
      "minhash_ns_per_row" -> perRow(hs, nHs, mh),
      "intersect_size_ns_per_row" -> perRow(pairs, nPairs, Seq(size(array_intersect(col("ha"), col("hb"))))),
      "levenshtein_ns_per_row" -> perRow(texts, nTexts, Seq(LevenshteinTrim.levenshteinTrim(col("ta"), col("tb")))),
      "cosine_sim_ns_per_row" -> perRow(vecs, nVecs, Seq(VectorExpressions.cosineSim(col("va"), col("vb")))))
    Seq(hs, text, pairs, texts, vecs).foreach(_.unpersist())
    res ++ Map("rows" -> Map("documents" -> nText, "doc_pairs" -> nPairs, "text_pairs" -> nTexts,
      "embedding_pairs" -> nVecs))
  }
}
