package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** In-process registry of fitted models and of query results whose
  * plans embed one. A DataFrame's logical plan caches/reuses fine through
  * `.cache()`, but a model FIT is driver-side work Spark can't
  * deduplicate — calling qKmeansAnomaly twice would cluster twice. Every
  * fit here is seeded and deterministic, so memoizing by (operator,
  * session, input) is semantics-preserving: the moral equivalent of a
  * model registry keyed by training snapshot. A value is a DataFrame or
  * the fitted model itself (`MLOps.pcaModel`), so every query that reads
  * a model shares its one fit.
  */
object Memo {
  private val store = new ConcurrentHashMap[(String, SparkSession, String), Any]()

  /** NOT computeIfAbsent: memoized bodies call other memoized queries
    * (density → pca), and a mapping function that re-enters the same
    * ConcurrentHashMap violates its contract (IllegalStateException
    * "Recursive update" when keys share a bin). Compute outside the
    * lock; a rare duplicate fit under concurrency is benign (same
    * seeded result) and putIfAbsent keeps the first. Each `op` name
    * always stores one type `T`.
    */
  def apply[T](op: String, spark: SparkSession, dir: String)(f: => T): T = {
    val key = (op, spark, dir)
    val hit = store.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = f
      val prev = store.putIfAbsent(key, v)
      if (prev != null) prev.asInstanceOf[T] else v
    }
  }

  /** Memoize AND pin: the shared-plan variant for small derived tables
    * (feature matrices, term frequencies) that several operators consume.
    * Returning the SAME DataFrame object on every call means exactly one
    * `.cache()` registration per (op, session, dir) — repeated invocations
    * don't stack fresh InMemoryRelations — and [[invalidate]] can
    * unpersist it deterministically.
    */
  def cached(op: String, spark: SparkSession, dir: String)(f: => DataFrame): DataFrame = {
    val key = (op, spark, dir)
    val hit = store.get(key)
    if (hit != null) hit.asInstanceOf[DataFrame]
    else {
      val v = f
      v.cache()
      val prev = store.putIfAbsent(key, v).asInstanceOf[DataFrame]
      if (prev != null) {
        // Race loser. Two cases, because CacheManager matches plans by
        // EQUIVALENCE, not object identity:
        //  - loser's plan differs from the winner's (e.g. a freshly
        //    fitted scaler): its registration would be unreachable →
        //    unpersist it;
        //  - plans are equivalent (deterministic bodies like termFreq):
        //    the loser's cache() was a no-op on the same entry, and an
        //    unpersist here would evict the WINNER's cache — skip it.
        try {
          if (!v.queryExecution.analyzed.sameResult(prev.queryExecution.analyzed))
            v.unpersist()
        } catch { case NonFatal(_) => () }
        prev
      } else v
    }
  }

  /** Unpersist `v` if it is a DataFrame; fitted models hold no cache. */
  private def release(v: Any): Unit = v match {
    case df: Dataset[_] => try df.unpersist() catch { case NonFatal(_) => () }
    case _ => ()
  }

  /** Drop every memoized entry whose input directory is `dir`,
    * unpersisting the DataFrames — call after rewriting the data under
    * `dir` in a long-lived session, so stale fitted models / cached plans
    * can't be served.
    */
  def invalidate(dir: String): Unit = {
    val it = store.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._3 == dir) {
        release(e.getValue)
        it.remove()
      }
    }
  }

  /** Full reset: unpersist the DataFrames and forget everything (e.g.
    * between test suites or at session teardown). Also releases RankOps'
    * pinned rank inputs — they aren't dir-keyed (RankOps sees only a
    * frame), so the session-wide reset is their deterministic unpersist
    * point. */
  def clear(): Unit = {
    store.values().forEach(release)
    store.clear()
    operators.RankOps.releasePins()
  }
}
