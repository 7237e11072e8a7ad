package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The process's one cache of state derived from input directories:
  * fitted models, pinned DataFrames, rank pins and parquet schemas.
  *
  * One rule. An entry is keyed by (op, session, dir) and belongs to the
  * generation of its (session, dir), which records the dir's
  * [[Tables.contentFingerprint]] when it was made. Every lookup walks the
  * dir again; when the fingerprint differs, the whole generation is
  * released (DataFrames unpersisted, fitted values dropped) and the
  * entry is computed anew over the new content. A rewritten input is
  * therefore never served stale, and nothing has to be invalidated by
  * hand: the first read after a rewrite goes through [[Tables.table]],
  * whose schema lookup is an entry here, and so releases the old pins
  * before Spark's CacheManager could substitute one of them into a plan
  * that is not memoized at all.
  *
  * A fit is driver-side work Spark cannot deduplicate (calling
  * qKmeansAnomaly twice would cluster twice). Every fit here is seeded
  * and deterministic, so memoizing by (operator, session, content) is
  * semantics-preserving: a model registry keyed by training snapshot.
  * Directories are local paths, keyed absolute and normalized.
  */
object Memo {
  /** The entries made from one content of one (session, dir), by op. */
  private final class Generation(val fingerprint: String) {
    val entries = new ConcurrentHashMap[String, Any]()
  }

  private val store = new ConcurrentHashMap[(SparkSession, String), Generation]()

  /** The generation of (`spark`, `dir`) for `fingerprint`: the current one
    * if it matches, else a new empty one, after releasing the old. */
  private def generation(spark: SparkSession, dir: String, fingerprint: String): Generation = {
    var stale: Generation = null
    val gen = store.compute((spark, dir), (_, prev) =>
      if (prev != null && prev.fingerprint == fingerprint) prev
      else { stale = prev; new Generation(fingerprint) })
    if (stale != null) stale.entries.values().forEach(release)
    gen
  }

  private def current(spark: SparkSession, dir: String): Generation = {
    val d = java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString
    generation(spark, d, Tables.contentFingerprint(d))
  }

  /** `op`'s entry in `gen`, made by `f` on a miss (and cached when `pin`).
    * NOT computeIfAbsent: memoized bodies call other memoized queries
    * (density → pca), and a mapping function that re-enters the same
    * ConcurrentHashMap violates its contract (IllegalStateException
    * "Recursive update" when keys share a bin). Compute outside the
    * lock; a rare duplicate fit under concurrency is benign (same seeded
    * result) and putIfAbsent keeps the first. Each `op` name always
    * stores one type. */
  private def entry(gen: Generation, op: String, pin: Boolean)(f: => Any): Any = {
    val hit = gen.entries.get(op)
    if (hit != null) hit
    else {
      val v = f
      if (pin) v.asInstanceOf[DataFrame].cache()
      val prev = gen.entries.putIfAbsent(op, v)
      if (prev == null) v
      else {
        // Race loser. CacheManager matches plans by EQUIVALENCE, not
        // object identity: a loser whose plan differs from the winner's
        // (a freshly fitted scaler) holds an unreachable registration →
        // unpersist it; an equivalent loser's cache() was a no-op on the
        // winner's entry, and unpersisting it would evict the winner.
        if (pin) try {
          val df = v.asInstanceOf[DataFrame]
          if (!df.queryExecution.analyzed.sameResult(prev.asInstanceOf[DataFrame].queryExecution.analyzed))
            df.unpersist()
        } catch { case NonFatal(_) => () }
        prev
      }
    }
  }

  /** `f`'s value for (`op`, `spark`, the current content of `dir`): a
    * fitted model, a driver-side scalar or a DataFrame whose plan embeds
    * one. */
  def apply[T](op: String, spark: SparkSession, dir: String)(f: => T): T =
    entry(current(spark, dir), op, pin = false)(f).asInstanceOf[T]

  /** Memoize AND pin: the shared-plan variant for small derived tables
    * (feature matrices, term frequencies) that several operators consume.
    * Returning the SAME DataFrame object on every call means exactly one
    * `.cache()` registration per entry (repeated invocations don't stack
    * fresh InMemoryRelations), unpersisted when its dir's content changes.
    */
  def cached(op: String, spark: SparkSession, dir: String)(f: => DataFrame): DataFrame =
    entry(current(spark, dir), op, pin = true)(f).asInstanceOf[DataFrame]

  /** Pins `df` in the generation of every directory its plan reads (the
    * parents of its file relations' root paths) and returns the pinned
    * frame: an earlier pin of an equivalent plan (same semantic hash)
    * while that is still current everywhere, else `df`, cached. A frame
    * that reads no local files is pinned under no directory and released
    * only by [[clear]]. */
  def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    val dirs = plan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths
    }.flatten.filter(p => p.toUri.getScheme == "file" && p.getParent != null)
      .map(_.getParent.toUri.getPath).distinct
    val gens = if (dirs.isEmpty) Seq(generation(spark, "", "")) else dirs.map(current(spark, _))
    val op = "pin:" + (try plan.semanticHash() catch { case NonFatal(_) => System.identityHashCode(df) })
    val hits = gens.map(_.entries.get(op).asInstanceOf[AnyRef])
    if (hits.head != null && hits.forall(_ eq hits.head)) hits.head.asInstanceOf[DataFrame]
    else {
      df.cache()
      gens.foreach(_.entries.put(op, df))
      df
    }
  }

  /** Unpersist `v` if it is a DataFrame; fitted models hold no cache. */
  private def release(v: Any): Unit = v match {
    case df: Dataset[_] => try df.unpersist() catch { case NonFatal(_) => () }
    case _ => ()
  }

  /** Full reset: unpersist every DataFrame and forget everything (e.g.
    * between test suites, at session teardown, or to force a re-run). */
  def clear(): Unit = {
    store.values().forEach(_.entries.values().forEach(release))
    store.clear()
  }
}
