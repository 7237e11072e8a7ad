package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, StringType}

/** What a warm re-run of an already-run workload must not pay again:
  * generated-code compiles, parquet schema inference and per-run storage. */
class WarmRerunSpec extends SparkSpec {

  /** The benchmark's batch_pipeline pass: one operation per operator module,
    * submitted in this order. */
  private val batchPipeline = Seq("q_preprocess", "q_cumulative_users", "q_ks_test",
    "q_zscore_anomaly", "q_bloom_join", "q_quality_score", "q_dedup_minhash",
    "q_ann_brute", "q_media_neardup")

  private def pass(): Unit =
    batchPipeline.foreach(q => Diag.materialize(SparkEntry.queries(q)(spark, sf)))

  /** Spark jobs launched by `body`, counted once the listener bus drained. */
  private def jobsLaunched(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try { body; Bus.waitUntilEmpty(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a second interleaved batch_pipeline pass compiles no generated class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Tables.CodegenCacheEntries.toString)
    pass()
    val before = Diag.compiles()
    pass()
    assert(Diag.compiles() - before === 0)
  }

  test("executor tasks resolve classes without an ExecutorClassLoader") {
    // With artifact isolation on, every SQL job carries the session's REPL
    // class URI and tasks resolve each generated-code class-name lookup
    // through an ExecutorClassLoader: a jar scan, then a driver RPC.
    val s = spark
    import s.implicits._
    val loaders = spark.range(0, 8, 1, 4)
      .mapPartitions(_ => Iterator(Thread.currentThread().getContextClassLoader.getClass.getName))
      .collect().distinct
    assert(loaders.nonEmpty && !loaders.exists(_.endsWith("ExecutorClassLoader")),
      s"task context class loaders: ${loaders.mkString(", ")}")
  }

  test("a resolved parquet input is re-read without a Spark job, batch or stream, as a fresh relation") {
    Tables.events(spark, sf)
    Tables.documents(spark, sf)
    val jobs = jobsLaunched {
      val a = Tables.documents(spark, sf)
      val b = Tables.documents(spark, sf)
      assert(a.queryExecution.analyzed.output.map(_.exprId)
        .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty,
        "two calls never share attributes, so a self-join stays unambiguous")
      Tables.events(spark, sf)
      assert(streaming.EventStream.fileStream(spark, sf).isStreaming)
    }
    assert(jobs === 0)
  }

  test("a fixture rewritten at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("warm-rerun-").toString
    val path = s"$dir/t.parquet"
    spark.range(3).toDF("a").write.parquet(path)
    assert(Tables.table(spark, dir, "t").schema.map(f => f.name -> f.dataType) ===
      Seq("a" -> LongType))
    spark.range(3).selectExpr("cast(id as string) as b").write.mode("overwrite").parquet(path)
    val t = Tables.table(spark, dir, "t")
    assert(t.schema.map(f => f.name -> f.dataType) === Seq("b" -> StringType))
    assert(t.collect().map(_.getString(0)).sorted.toSeq === Seq("0", "1", "2"))
  }

  test("a missing input fails as the plain parquet read does") {
    val e = intercept[AnalysisException](Tables.table(spark, sf, "no_such_table"))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }

  test("re-running q_minhash_calibration stores nothing new") {
    def stored: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    def run(): Unit = Diag.materialize(SparkEntry.queries("q_minhash_calibration")(spark, sf))
    run()
    run()
    val afterRun2 = stored
    run()
    assert(stored === afterRun2)
  }
}
