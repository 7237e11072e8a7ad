package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** In-process registry for query results whose plans embed a fitted MLlib
  * model. A DataFrame's logical plan caches/reuses fine through
  * `.cache()`, but the model FIT that builds the plan is driver-side work
  * Spark can't deduplicate — calling qKmeansAnomaly twice would cluster
  * twice. Every fit here is seeded and deterministic, so memoizing by
  * (operator, session, input) is semantics-preserving: it's the moral
  * equivalent of a model registry keyed by training snapshot.
  */
object Memo {
  private val store = new ConcurrentHashMap[(String, SparkSession, String), DataFrame]()

  /** NOT computeIfAbsent: memoized bodies call other memoized queries
    * (density → pca), and a mapping function that re-enters the same
    * ConcurrentHashMap violates its contract (IllegalStateException
    * "Recursive update" when keys share a bin). Compute outside the
    * lock; a rare duplicate fit under concurrency is benign (same
    * seeded result) and putIfAbsent keeps the first.
    */
  def apply(op: String, spark: SparkSession, dir: String)(f: => DataFrame): DataFrame = {
    val key = (op, spark, dir)
    val hit = store.get(key)
    if (hit != null) hit
    else {
      val v = f
      val prev = store.putIfAbsent(key, v)
      if (prev != null) prev else v
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
    if (hit != null) hit
    else {
      val v = f
      v.cache()
      val prev = store.putIfAbsent(key, v)
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

  /** Drop (and unpersist) every memoized entry whose input directory is
    * `dir` — call after rewriting the data under `dir` in a long-lived
    * session, so stale fitted models / cached plans can't be served.
    */
  def invalidate(dir: String): Unit = {
    val it = store.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._3 == dir) {
        try e.getValue.unpersist() catch { case NonFatal(_) => () }
        it.remove()
      }
    }
  }

  /** Full reset: unpersist and forget everything (e.g. between test
    * suites or at session teardown). Also releases RankOps' pinned rank
    * inputs — they aren't dir-keyed (RankOps sees only a frame), so the
    * session-wide reset is their deterministic unpersist point. */
  def clear(): Unit = {
    store.values().forEach(df =>
      try df.unpersist() catch { case NonFatal(_) => () })
    store.clear()
    operators.RankOps.releasePins()
  }
}
