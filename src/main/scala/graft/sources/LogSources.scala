package graft.sources

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources and sinks for the activity-log pipeline.
  *
  * The reference ingests CERT-style CSV activity logs with pandas
  * (data_preprocessing.py:5-31: read_csv → to_datetime(errors='coerce') →
  * temporal features → dropna on critical columns). Here the same ingest
  * is a declarative scan: schema applied at the reader (no inference pass
  * over 100 TB), bad timestamps null out like errors='coerce', and the
  * null-drop is a pushable filter.
  */
object LogSources {

  /** CERT-style activity log schema (ref data_preprocessing.py:27 names
    * the critical columns: user, pc, activity, resource).
    */
  val activitySchema: StructType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("user", StringType),
    StructField("pc", StringType),
    StructField("activity", StringType),
    StructField("resource", StringType)))

  /** CSV activity-log reader. The explicit schema skips the inference
    * scan; `try_to_timestamp` yields null on unparseable values (pandas
    * errors='coerce' — plain to_timestamp THROWS under ANSI mode);
    * header per the reference's files.
    */
  def readActivityCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .schema(activitySchema)
      .csv(path)
      .withColumn("timestamp", try_to_timestamp(col("timestamp")))

  /** JSON-lines reader for the events schema (one JSON object per line —
    * the shape a log shipper emits). Explicit schema, no inference.
    */
  val eventsJsonSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEventsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventsJsonSchema).json(path)

  /** Temporal-feature derivation + critical-column null drop over ANY
    * activity frame (the reusable form of data_preprocessing.py:14-28;
    * ThreatOps.qPreprocess is this applied to the events table).
    */
  def preprocessActivity(df: DataFrame): DataFrame =
    df.filter(col("user").isNotNull && col("pc").isNotNull &&
        col("activity").isNotNull && col("resource").isNotNull &&
        col("timestamp").isNotNull)
      .withColumn("hour_of_day", hour(col("timestamp")).cast("long"))
      .withColumn("day_of_week", expr("weekday(timestamp)").cast("long"))
      .withColumn("is_weekend", when(graft.Tables.weekend(col("day_of_week")), 1L).otherwise(0L))
      .withColumn("is_after_hours",
        when(graft.Tables.afterHours(col("hour_of_day")), 1L).otherwise(0L))

  /** Date-partitioned parquet sink: the ingest layout for an unbounded
    * log. Daily partitions make the time-range predicates in every
    * behavioral query partition-pruning scans instead of full scans.
    */
  def writeDatePartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(path)

  /** Bucketed managed-table sink: pre-shuffles on the join/agg key so
    * every downstream per-user aggregation and self-join reads
    * co-located data with NO exchange (bucket pruning + bucketed join).
    * This is the 100 TB answer to "q_user_features shuffles the log".
    */
  def writeBucketed(df: DataFrame, keyCol: String, buckets: Int,
      table: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)

  /** ORC sink/reader pair — the second columnar interchange format a log
    * pipeline meets in practice (Hive-era warehouses hand over ORC).
    * Same pushdown story as parquet: explicit schema on read, predicates
    * and column pruning reach the ORC reader (spec asserts the scan
    * shape).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readEventsOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventsJsonSchema).orc(path)

  /** Range-clustered parquet sink: repartitionByRange + in-partition sort
    * on the key, so each output file covers a DISJOINT key range (the
    * spec asserts it). Parquet stores per-column min/max in every
    * row-group footer; with disjoint file ranges a key-predicate scan
    * skips every non-matching file outright — the single-key form of the
    * Z-order/liquid-clustering layout, and the cheap complement to
    * [[writeBucketed]] when the reader is a RANGE predicate (time spans,
    * id ranges) rather than an equi-join.
    */
  def writeRangeClustered(df: DataFrame, keyCol: String, files: Int,
      path: String): Unit =
    df.repartitionByRange(files, col(keyCol))
      .sortWithinPartitions(col(keyCol))
      .write.mode("overwrite")
      .parquet(path)

  /** Morton (Z-order) bit interleave of two long columns already scaled
    * into `[0, 2^bits)`: bit i of `a` lands at position 2i, bit i of `b`
    * at 2i+1. Pure column arithmetic — codegen'd, no UDF.
    */
  private[graft] def mortonKey(a: Column, b: Column, bits: Int): Column = {
    val mask = (1L << bits) - 1
    val ca = least(greatest(a, lit(0L)), lit(mask))
    val cb = least(greatest(b, lit(0L)), lit(mask))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(ca, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(cb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Min-max scale a long column into the `bits`-wide cell grid. Without
    * this, any key domain wider than 2^bits would clamp into the top
    * cell and the curve would silently degenerate to a 1-D sort on the
    * other dimension.
    */
  private def scaleToGrid(v: Column, lo: Long, hi: Long, bits: Int): Column = {
    val mask = (1L << bits) - 1
    if (hi <= lo) lit(0L)
    else least(lit(mask),
      ((v - lit(lo)).cast("double") * mask / (hi - lo).toDouble).cast("long"))
  }

  /** Z-order-clustered parquet sink: range-partition + sort on the Morton
    * interleave of TWO key columns, so every output file covers a small
    * RECTANGLE in (keyA, keyB) space instead of a thin full-width stripe.
    * A single-key sort layout ([[writeRangeClustered]]) gives perfect
    * file skipping on one predicate column and none on any other; the
    * Z-order layout lets parquet footer min/max stats skip files for
    * predicates on EITHER dimension (and their conjunction) — the
    * standard lakehouse answer to two-column point/range lookups at
    * 100 TB. The curve key is a plain column expression, computed once
    * at write, dropped from the stored schema.
    */
  def writeZOrdered(df: DataFrame, keyA: String, keyB: String, bits: Int,
      files: Int, path: String): Unit = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    // one tiny aggregate fixes the grid: each dimension min-max scales
    // into its 2^bits cells, so ANY key domain (user ids in the billions,
    // epoch days) uses the full curve instead of clamping into one cell
    val r = df.agg(min(col(keyA)).cast("long"), max(col(keyA)).cast("long"),
      min(col(keyB)).cast("long"), max(col(keyB)).cast("long")).head
    val z = mortonKey(
      scaleToGrid(col(keyA).cast("long"), r.getLong(0), r.getLong(1), bits),
      scaleToGrid(col(keyB).cast("long"), r.getLong(2), r.getLong(3), bits),
      bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .parquet(path)
  }

  /** Small-file compaction for a date-partitioned parquet dataset — the
    * maintenance job every streaming/micro-batch sink needs at scale: a
    * minute-cadence writer leaves thousands of KB-sized files per daily
    * partition, and scan parallelism + footer overhead degrade with file
    * COUNT, not byte size. Per partition whose file count exceeds
    * `maxFiles`: read, coalesce to `ceil(bytes / targetBytes)` files,
    * rewrite into a staging dir, and swap atomically-enough for a local
    * filesystem (on HDFS/S3 the swap step would go through the
    * FileSystem API / a manifest commit — the Spark work is identical).
    * Partitions already compact are NOT rewritten (idempotent, and the
    * common case in steady state: only the newest partition churns).
    * Returns (partitionsCompacted, filesBefore, filesAfter).
    */
  def compactDatePartitioned(spark: SparkSession, root: String,
      targetBytes: Long, maxFiles: Int = 8): (Int, Int, Int) = {
    import java.io.File
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    // CRASH RECOVERY (r15 verdict #5). The swap below is staged-write →
    // commit-marker → rm(old) → rename(staged, old): each step leaves a
    // state this pass can roll forward or back deterministically, so a
    // compaction killed at ANY point re-runs to the same result:
    //  - staged dir WITHOUT the marker → the staged write itself died
    //    mid-flight; the partition dir is untouched and authoritative —
    //    discard the staging (the partition simply recompacts).
    //  - staged dir WITH the marker → the staged copy is complete and the
    //    old dir may be half-deleted (a kill mid-rm is the one state
    //    where the partition dir has LOST rows) — finish the swap: remove
    //    whatever remains of the old dir, rename the staged copy in.
    // Without the marker a kill mid-rm would be unrecoverable — neither
    // dir would hold the full partition. The marker is what makes the
    // non-transactional local-fs swap idempotent; on HDFS/S3 the same
    // two-phase shape goes through a manifest commit.
    val rootFiles = Option(new File(root).listFiles()).getOrElse(Array.empty)
    for (staged <- rootFiles
         if staged.isDirectory && staged.getName.startsWith(StagePrefix)) {
      val target = new File(root, staged.getName.stripPrefix(StagePrefix))
      if (new File(staged, CommitMarker).exists()) {
        if (target.exists()) rm(target)
        require(staged.renameTo(target),
          s"compaction recovery rename failed for ${target.getName}")
        new File(target, CommitMarker).delete()
      } else rm(staged)
    }
    // hidden/staging/marker names never count as partitions — a leftover
    // `.compact_date=...` dir contains "=" and would otherwise be listed
    val dirs = Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.contains("=") &&
        !d.getName.startsWith(".") && !d.getName.startsWith("_"))
    var compacted = 0; var before = 0; var after = 0
    for (d <- dirs) {
      def parts(dir: File): Array[File] =
        dir.listFiles().filter(f => f.getName.endsWith(".parquet"))
      val files = parts(d)
      before += files.length
      if (files.length > maxFiles) {
        val bytes = files.map(_.length()).sum
        val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        val staged = new File(d.getParentFile, s"$StagePrefix${d.getName}")
        spark.read.parquet(d.getAbsolutePath)
          .repartition(n)
          .write.mode("overwrite").parquet(staged.getAbsolutePath)
        // commit point: from here the staged copy is authoritative
        require(new File(staged, CommitMarker).createNewFile(),
          s"compaction could not write commit marker for ${d.getName}")
        rm(d)
        require(staged.renameTo(d), s"compaction swap failed for ${d.getName}")
        new File(d, CommitMarker).delete()
        compacted += 1
        after += parts(d).length
      } else after += files.length
    }
    (compacted, before, after)
  }

  private[graft] val StagePrefix = ".compact_"
  private[graft] val CommitMarker = "_COMPACT_COMMIT"
}
