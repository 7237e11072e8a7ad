package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.{MLOps, SimilarityOps}
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Each seeded model has one fit site: once the first consumer of a model
  * has run, every other consumer reads the same fit. A fit is seen as the
  * Spark jobs it launches — their stage call sites carry MLlib's KMeans /
  * PCA frames, which no job of a query reading a fitted model has.
  */
class FitOnceSpec extends SparkSpec {

  private val fitFrames = Map(
    "kmeans" -> Seq("org.apache.spark.ml.clustering.KMeans.",
      "org.apache.spark.mllib.clustering.KMeans."),
    "pca" -> Seq("org.apache.spark.ml.feature.PCA.",
      "org.apache.spark.mllib.feature.PCA."))

  /** Runs `body` and returns its result with the model kind of every job
    * it launched from inside a KMeans or PCA fit. */
  private def fitJobs[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val kinds = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val sites = e.stageInfos.map(_.details)
        fitFrames.collectFirst {
          case (kind, frames) if sites.exists(d => frames.exists(d.contains)) => kind
        }.foreach(kinds.add)
      }
    }
    Bus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    val result =
      try { val r = body; Bus.waitUntilEmpty(sc); r } finally sc.removeSparkListener(listener)
    (result, kinds.asScala.toSeq)
  }

  test("each seeded model is fit once per session: PCA, k=2 KMeans, IVF quantizer, PQ codebooks") {
    // user-feature models: drop every memoized fit so the first consumers refit
    Memo.clear()
    val (kmeans, first) = fitJobs {
      MLOps.qPcaProject(spark, sf).collect()
      MLOps.qKmeansAnomaly(spark, sf)
        .select("user_id", "cluster", "dist_to_centroid").collect()
    }
    assert(first.contains("pca") && first.contains("kmeans"),
      s"the first consumers must fit both models (seen: ${first.distinct})")
    val (silhouette, rest) = fitJobs {
      MLOps.qPcaVariance(spark, sf).collect()
      MLOps.qReconError(spark, sf).collect()
      MLOps.qSilhouette(spark, sf)
        .select("user_id", "cluster", "dist_own").collect()
    }
    assert(rest.isEmpty, s"qPcaVariance / qReconError / qSilhouette refit: $rest")
    // both k=2 consumers read the same clustering, user by user
    assert(kmeans.length === silhouette.length && kmeans.nonEmpty)
    val own = silhouette.map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    kmeans.foreach { r =>
      assert(own(r.getLong(0)) === ((r.getLong(1), r.getDouble(2))),
        s"user ${r.getLong(0)}: cluster / dist_own differ from qKmeansAnomaly")
    }

    // embedding models on a fresh fixture, so the first consumers must fit
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-fitonce").toString
    val rnd = new scala.util.Random(7)
    (0L until 256L).map(i => (i, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$tmp/embeddings.parquet")
    try {
      val (_, ivfPq) = fitJobs {
        SimilarityOps.qAnnIvf(spark, tmp).collect()
        SimilarityOps.qPqCodes(spark, tmp).collect()
      }
      assert(ivfPq.contains("kmeans"), "qAnnIvf / qPqCodes must fit their quantizers")
      val (_, searches) = fitJobs {
        SimilarityOps.qAnnIvfPq(spark, tmp).collect()
        SimilarityOps.qAnnRecallSweep(spark, tmp).collect()
      }
      assert(searches.isEmpty, s"qAnnIvfPq / qAnnRecallSweep refit: $searches")
    } finally Memo.invalidate(tmp)
  }
}
