package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; ScalaTest suites run sequentially in the forked
  * test JVM). Tests use sf0.001 (~6k events, 200 docs): big enough to
  * exercise every path, small enough to keep `sbt test` fast. Correctness
  * vs DuckDB is the driver's gate; these specs assert the *invariants* the
  * oracle can't (determinism across runs, cross-query consistency, bounds).
  */
object SparkSpec {
  lazy val spark: SparkSession = Tables.localSession(
    sys.env.getOrElse("SPARK_GRAFT_TEST_CPUS", "4"))
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** Run `f` with streaming state on the RocksDB provider (which
    * transformWithState requires), then restore the session's previous
    * provider. */
  def withRocksDb[A](f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}
