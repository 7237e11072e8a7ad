package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table loaders + shared helpers for the graft engine.
  *
  * All queries read the driver-generated parquet tables under a scale-factor
  * directory (see TESTDATA.md). Loaders are declarative parquet scans with
  * the schema supplied by [[parquetSchema]]: Catalyst still pushes
  * filters/column pruning into the parquet reader — at 100 TB that
  * pushdown is the difference between scanning a column slice and
  * scanning everything.
  */
object Tables {

  /** A fresh parquet relation over `<dir>/<name>.parquet`. Only the schema
    * is reused ([[parquetSchema]]); the Dataset is built anew on every
    * call, so a self-join of two calls keeps distinct attributes. A
    * missing path takes the plain read, so it fails exactly as that does. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    parquetSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The parquet confs that change what schema inference returns for the
    * same files. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private val schemas = new ConcurrentHashMap[(SparkSession, String), (String, StructType)]()

  /** The inferred schema of the parquet input at a local `path`, or None
    * when the path does not exist. Inference is a footer-read Spark job,
    * 100-130 ms per call warm, against 8-13 ms for a read with the schema
    * supplied; every query calls [[table]] once per input, so a warm pass
    * paid that job per input. The schema is cached per (session, path)
    * under a key of [[contentFingerprint]] (0.2-0.3 ms) plus the
    * [[SchemaConfs]] values: a fixture rewritten at the same path, or a
    * conf flip such as [[events]]' nanosAsLong, infers again. */
  private def parquetSchema(spark: SparkSession, path: String): Option[StructType] =
    Option.when(java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      val key = (contentFingerprint(path) +: SchemaConfs.map(k => spark.conf.getOption(k).orNull))
        .mkString("|")
      val hit = schemas.get((spark, path))
      if (hit != null && hit._1 == key) hit._2
      else {
        val s = spark.read.parquet(path).schema
        schemas.put((spark, path), (key, s))
        s
      }
    }

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

  /** The reference's temporal rules (data_preprocessing.py:14-28) for the
    * batch, stream and source paths: after-hours is an hour of day below 8
    * or above 18, weekend a weekday (Monday = 0) of 5 or more. SparkEntry's
    * `afterHoursSql` / `weekendSql` are the oracle twins. */
  def afterHours(hourOfDay: Column): Column = hourOfDay < 8 || hourOfDay > 18
  def weekend(dayOfWeek: Column): Column = dayOfWeek >= 5

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

  /** Generated classes Spark keeps per JVM (`spark.sql.codegen.cache.maxEntries`,
    * default 100). One benchmark batch pass compiles 224 distinct classes
    * and the 222-query registry 3,268 at sf0.01, so at 100 entries every
    * warm re-run of an interleaved workload recompiled what the pass before
    * had just compiled: 151 classes per batch pass, and 3,809 classes and
    * 113.8 s for a second registry pass (metaspace 283 MB). With room for
    * the whole working set that pass recompiles 190 classes in 68.8 s
    * (metaspace 254 MB): the cached classes cost no more metaspace than
    * the churn did. */
  val CodegenCacheEntries = 4096

  /** A local SparkSession configured the way every graft entry point wants
    * it: AQE on, modest shuffle parallelism (tuned per-cluster in prod),
    * UTC so timestamp-derived features match the oracle, and a
    * generated-class cache of [[CodegenCacheEntries]]. That cache size is a
    * static conf, read once, when the JVM first generates code: it has to
    * be set here in the builder, and it takes effect only if this session
    * is the JVM's first.
    *
    * Three streaming settings take fixed costs out of every stateful
    * micro-batch, whatever its input size. Measured on the benchmark's
    * `alert_stream` (six stateful queries on RocksDB state, 4 cores): with
    * them (and the processors' shared state encoders) the median alert
    * lag fell from 3.46 s to 1.12 s over 11 paired runs. Dropping one
    * setting at a time (3 runs each, against 0.89 s with all of them):
    *  - `rocksdb.changelogCheckpointing`: a commit writes the batch's
    *    changes as a small changelog file instead of uploading a zipped
    *    snapshot of each state partition; snapshots move to the background
    *    maintenance thread. The 4 task threads had sat parked 30 s in
    *    all per run (JFR) waiting on those uploads. Without it the lag is
    *    1.11 s. The provider itself is still picked per query
    *    (`stateStore.providerClass`); this conf is read when a RocksDB
    *    query starts.
    *  - `fs.file.impl` = [[NioLocalFileSystem]]: sets file modes without
    *    forking `chmod` for each checkpoint, changelog and checksum file.
    *    Without it (and the next setting) the lag is 2.34 s.
    *  - `checkpointFileManagerClass` = `FileSystemBasedCheckpointFileManager`:
    *    the default manager writes through FileContext, whose `file:`
    *    binding builds its own RawLocalFileSystem and so never reaches
    *    [[NioLocalFileSystem]]. Spark's checkpoint checksums stay on; they
    *    wrap whichever manager this names. The setting covers every
    *    scheme, not only `file:`, and this manager renames by checking
    *    that the target is absent and then renaming, which is not atomic.
    *    On `file:` the default manager does the same, so local
    *    checkpoints lose nothing; it is safe here only because every
    *    checkpoint of these sessions is local. A query checkpointing to
    *    HDFS or an object store needs a session without this setting.
    *
    * Artifact isolation is off (`spark.sql.artifact.isolation.enabled`).
    * While it is on, Spark attaches the session's artifact state, with a
    * REPL class URI, to every SQL job, and executor tasks run under an
    * `ExecutorClassLoader`: each generated-code class-name lookup that
    * misses scans every Spark jar and then asks the driver for the class
    * over RPC. graft adds no per-session jars or classes, so isolation
    * buys nothing here. JFR of a `batch_pipeline` run (4 cores):
    * `ExecutorClassLoader` sat in 24 of 245 executor samples with
    * isolation on, 0 of 210 with it off. The first (cold) pass of
    * `alert_stream` took a median 9.05 s with it on and 7.92 s with it
    * off, over 8 alternating pairs.
    */
  def localSession(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
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
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
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
