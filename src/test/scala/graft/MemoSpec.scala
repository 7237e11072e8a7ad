package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{MLOps, ThreatOps}
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Memo follows the content of its directories: what it holds for a
  * directory is released, and computed again, once the directory's
  * content changes, with no call to invalidate anything. */
class MemoSpec extends SparkSpec {

  /** Distinct users of `q`'s rows. */
  private def users(q: => org.apache.spark.sql.DataFrame): Long =
    q.select("user_id").distinct().count()

  /** Spark jobs launched by `body` from inside an MLlib KMeans fit. */
  private def kmeansFits(body: => Unit): Int = {
    val sc = spark.sparkContext
    val fits = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.details.contains("org.apache.spark.ml.clustering.KMeans.")))
          fits.incrementAndGet()
    }
    Bus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try { body; Bus.waitUntilEmpty(sc) } finally sc.removeSparkListener(listener)
    fits.get
  }

  test("an events table rewritten at the same path is served fresh, with no invalidation") {
    val tmp = Files.createTempDirectory("graft-memo-rewrite").toString
    Files.list(Paths.get(sf)).forEach(f => Files.copy(f, Paths.get(tmp, f.getFileName.toString)))
    assert(users(MLOps.qZscoreAnomaly(spark, tmp)) === 15)
    assert(users(ThreatOps.qUserFeatures(spark, tmp)) === 15)
    assert(users(MLOps.qKmeansAnomaly(spark, tmp)) === 15)

    // same path, new content: only the even user ids (8 of the 15)
    spark.read.parquet(s"$sf/events.parquet").filter(col("user_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")

    assert(users(MLOps.qZscoreAnomaly(spark, tmp)) === 8)
    assert(users(ThreatOps.qUserFeatures(spark, tmp)) === 8)
    var kmeansUsers = 0L
    val fits = kmeansFits { kmeansUsers = users(MLOps.qKmeansAnomaly(spark, tmp)) }
    assert(kmeansUsers === 8)
    assert(fits > 0, "qKmeansAnomaly must refit on the rewritten events")
  }
}
