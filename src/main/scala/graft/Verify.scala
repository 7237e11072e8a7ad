package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare in tools/check.py. Runs on
  * [[Tables.localSession]], so the gate checks the plans the library and
  * the benchmark run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name subset (local
    // iteration aid; the driver always runs the full inventory).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Tables.localSession(Tables.cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }))
    // Declared rows-only queries, explicitly: a query absent from
    // oracle_sql.json is rows-only BY DESIGN (fitted-model / sketch /
    // sampling outputs that ANSI SQL can't reproduce), not a missing
    // oracle — this manifest makes that declaration machine-readable so
    // a "no_oracle" marker downstream can't be misread as a failure.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    Files.writeString(Paths.get(s"$outDir/rows_only.json"), Json.write(rowsOnly.toSeq.sorted))
    spark.stop()
  }
}
