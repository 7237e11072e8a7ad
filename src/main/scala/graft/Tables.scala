package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders + shared helpers for the graft engine.
  *
  * All queries read the driver-generated parquet tables under a scale-factor
  * directory (see TESTDATA.md). Loaders are thin `spark.read.parquet` calls:
  * keeping the scan declarative lets Catalyst push filters/column pruning
  * into the parquet reader — at 100 TB that pushdown is the difference
  * between scanning a column slice and scanning everything.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  /** Normalize the `ts` column of an events frame to a session-timezone
    * TIMESTAMP, whatever physical type the parquet writer chose. The
    * testdata generator has shipped `ts` as TIMESTAMP(NANOS) (arrives as
    * LongType under the legacy nanosAsLong conf) and as timestamp[us]
    * without UTC adjustment (arrives as TIMESTAMP_NTZ) in different
    * rounds; a reader hard-wired to one physical type breaks on the
    * other. Dispatching on the OBSERVED dtype makes both batch and
    * streaming readers drift-proof:
    *   - LongType          → nanos: integer-truncate to micros
    *   - TIMESTAMP_NTZ     → cast to TIMESTAMP (identity under the UTC
    *                         session; matches DuckDB's naive read)
    *   - TIMESTAMP         → already micros in session tz, as-is
    */
  def adaptEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }

  /** Schema-adaptive events loader: see [[adaptEventTs]]. The legacy
    * nanosAsLong conf must be set BEFORE the read (Spark 4 refuses to map
    * TIMESTAMP(NANOS) at all without it); it only affects NANOS-annotated
    * INT64 columns, so it is a no-op on micros/NTZ files and safe to set
    * unconditionally.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    adaptEventTs(table(s, d, "events"))
  }
  /** [[events]] through the reference pipeline's preprocess null-drop
    * policy (data_preprocessing.py:29-31: rows with a null critical
    * column — user_id, ts, event_type — are invalid log records, dropped
    * before ANY analysis). Every event-driven operator reads through
    * this; the filters push into the scan and are no-ops on clean data.
    * `q_profile` reads [[events]] raw BECAUSE its job is counting nulls.
    *
    * Deliberately NOT [[spread]] (re-measured r16, confirming the r-era
    * activityLog note): the events fixture is one parquet row group, so
    * the decode is single-task either way; a round-robin exchange here
    * ADDED 0.4-0.5 s per query across a 6-query A/B (spread min 1.11-1.50
    * vs unspread 0.60-1.09 at sf0.1) — the sort-before-repartition plus
    * 32-task stage overhead exceeds the parallelism gain on a 100k-row
    * frame. At 100 TB the scan has thousands of splits and the question
    * disappears.
    */
  def cleanEvents(s: SparkSession, d: String): DataFrame =
    events(s, d).filter(
      col("user_id").isNotNull && col("ts").isNotNull && col("event_type").isNotNull)

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Widen partitioning before heavy per-row compute (shingling, hashing,
    * signature generation). A small table arrives from parquet as ONE
    * split, which would serialize CPU-bound work onto a single core; at
    * 100 TB the input has thousands of splits and this is a no-op (the
    * repartition only fires when splits < session parallelism). The
    * explicit numPartitions is deliberately NOT AQE-coalescible.
    */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** MD5 fingerprint of a parquet table's on-disk content identity (file
    * names + sizes + mtimes, plus the path itself). Anything derived from
    * a table's CONTENT — a persisted index generation, a cached fitted
    * model — must be keyed by this rather than by the path alone, so a
    * driver-regenerated fixture at the same path can never silently serve
    * a stale derivation: new content → new fingerprint → fresh build.
    * The walk is RECURSIVE (a partitioned table's data files live in
    * nested part directories whose top-level names/mtimes can survive a
    * content rewrite), and a missing path is an error: a fingerprint of
    * nothing is never a useful cache key, and every caller is about to
    * read the path anyway.
    */
  def contentFingerprint(pathStr: String): String = {
    val root = java.nio.file.Paths.get(pathStr)
    require(java.nio.file.Files.exists(root),
      s"contentFingerprint: $pathStr does not exist — refusing to key a cache on a missing input")
    val walk = java.nio.file.Files.walk(root)
    val listing =
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map { f =>
          val rel = root.relativize(f)
          s"$rel:${java.nio.file.Files.size(f)}:${java.nio.file.Files.getLastModifiedTime(f).toMillis}"
        }.toSeq.sorted.mkString("|")
      finally walk.close()
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$pathStr|$listing".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Round a double column for cross-engine hash stability.
    *
    * Double aggregation is order-dependent in any distributed engine; the
    * driver hash-compares our results against DuckDB, so every derived
    * double column is rounded identically on both sides. dp=4 for
    * small-magnitude values (ratios, entropies, averages), dp=2 for large
    * sums where accumulated float error can approach 1e-5 absolute.
    */
  def r4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = round(c, 4)
  def r2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = round(c, 2)

  /** Local core count of every graft entry point: `SPARK_GRAFT_CPUS`, else
    * every core the JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** A local SparkSession configured the way every graft entry point wants
    * it: AQE on, modest shuffle parallelism (tuned per-cluster in prod),
    * UTC so timestamp-derived features match the oracle.
    */
  def localSession(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Coalesce post-shuffle partitions by SIZE, not to defaultParallelism:
      // parallelismFirst (the default) pins ~|cores| reduce tasks even when
      // a shuffle carries kilobytes, so small stages pay pure task-launch
      // overhead; size-based coalescing gives 1 task for tiny shuffles and
      // the recommended ~64MB partitions on a 100 TB cluster alike.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // Let AQE re-optimize CACHED plans too (default false): without it
      // every Memo/rank-pin InMemoryRelation materializes at the full
      // shuffle width — 32 partitions holding a 1,500-row feature matrix —
      // and every consumer stage downstream of a cache scan pays that
      // width in task overhead. Measured r16 at sf0.1: q_anomaly_report
      // 1.68→0.91 s, q_rfm 2.6→1.2 s, q_knn_triangles 1.07→0.58 s,
      // q_model_report 1.28→0.84 s. Scale-neutral: the flag only permits
      // the same size-based coalescing the session already applies to
      // uncached shuffles, so big cached frames keep their width on a
      // cluster; explicit repartition(n, expr) calls are user-specified
      // and stay un-coalesced either way.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // SQL functions + optimizer rewrites (size∘array_intersect fusion)
    // on every session the library hands out
    GraftFunctions.register(s)
    s
  }

  /** Apply ad-hoc `SPARK_GRAFT_CONF="k=v;k=v"` overrides (the A/B knob
    * every [[Diag]] subcommand reads). A segment without '=' is reported
    * by name instead of surfacing as a MatchError.
    */
  def applyConfOverrides(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => System.err.println(
            s"[graft] ignoring malformed SPARK_GRAFT_CONF segment '$kv' (expected k=v)")
        }
      })
}
