package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for pathological key distributions.
  *
  * AQE's skew-join splitting handles most hotspots at runtime; these
  * helpers cover the case AQE can't: a groupBy where ONE key holds a
  * double-digit percentage of all rows (a bot user, a null-ish default).
  * Two-stage salted aggregation fans the hot key across `salt`
  * partitions for the first (heavy) shuffle, then combines the tiny
  * per-salt partials — the second shuffle moves |keys|·salt rows, not
  * |rows|.
  */
object SkewOps {

  /** Per-key counts via salted two-stage aggregation. Result is exactly
    * groupBy(key).count() for any salt >= 1.
    */
  def saltedCount(df: DataFrame, key: Column, salt: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
      .groupBy(key.as("key"), col("__salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("key"))
      .agg(sum(col("partial")).as("count"))

  /** Per-key sums via salted two-stage aggregation. */
  def saltedSum(df: DataFrame, key: Column, value: Column, salt: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
      .groupBy(key.as("key"), col("__salt"))
      .agg(sum(value).as("partial"))
      .groupBy(col("key"))
      .agg(sum(col("partial")).as("sum"))

  /** Count AND sum in ONE salted two-stage aggregation — when both stats
    * are needed, running [[saltedCount]] and [[saltedSum]] separately
    * pays the heavy |rows| salt shuffle twice plus a join; this pays it
    * once.
    */
  def saltedCountSum(df: DataFrame, key: Column, value: Column,
      salt: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
      .groupBy(key.as("key"), col("__salt"))
      .agg(count(lit(1)).as("pc"), sum(value).as("ps"))
      .groupBy(col("key"))
      .agg(sum(col("pc")).as("count"), sum(col("ps")).as("sum"))
}
