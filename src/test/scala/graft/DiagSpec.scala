package graft

import java.nio.file.{Files, Path}

import scala.collection.immutable.{ListMap, TreeMap}

import org.apache.spark.sql.functions.{col, udf}
import org.scalactic.Tolerance._

/** Pins [[Diag]]'s one drift rule, its per-core-count priors and its
  * timer. The compare cases run on plain maps and files; only the timer
  * cases touch Spark. */
class DiagSpec extends SparkSpec {

  // 40 queries, 0.1 s .. 4.0 s: the spread of a real sweep's warm times
  private val prior: Map[String, Double] =
    (1 to 40).map(i => f"q$i%02d" -> 0.1 * i).toMap

  private def scaled(f: String => Double): Map[String, Double] =
    prior.map { case (q, t) => q -> t * f(q) }

  private def sweep(warm: Map[String, Double]): ListMap[String, Any] =
    ListMap("queries" -> TreeMap(warm.map { case (q, t) => q -> ListMap("warm" -> t) }.toSeq: _*),
      "failed" -> Nil)

  /** A fresh directory holding `prior` as the committed artifact. */
  private def withPrior(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("diag-spec-")
    val path = dir.resolve(Diag.artifactPath(8)).toString
    assert(Diag.finish(path, sweep(prior), prior) === path, "no prior yet: written in place")
    body(path)
  }

  test("a synthetic-load window (every query x1.2) is flagged and goes to .drift") {
    val loaded = scaled(_ => 1.2)
    val d = Diag.compare(prior, loaded)
    assert(d.medianRatio === 1.2 +- 1e-9)
    assert(d.totalRatio === 1.2 +- 1e-9)
    assert(d.flagged)
    withPrior { path =>
      val before = Files.readString(Path.of(path))
      assert(Diag.finish(path, sweep(loaded), loaded) === s"$path.drift")
      assert(Files.readString(Path.of(path)) === before, "the prior stays byte-identical")
      val drift = Json.mapper.readTree(Path.of(s"$path.drift").toFile).path("compare")
      assert(drift.path("drift").asBoolean())
      assert(drift.path("median_ratio").asDouble() === 1.2)
    }
  }

  test("a clean window with +-5% jitter is not flagged and replaces the prior") {
    val rnd = new scala.util.Random(7)
    val jittered = scaled(_ => 0.95 + 0.1 * rnd.nextDouble())
    val d = Diag.compare(prior, jittered)
    assert(!d.flagged, d)
    assert(d.moved.isEmpty)
    withPrior { path =>
      assert(Diag.finish(path, sweep(jittered), jittered) === path)
      assert(Diag.priorWarm(path) === jittered)
      assert(!Files.exists(Path.of(s"$path.drift")))
    }
  }

  test("one query at 3x is listed as moved but does not flag the window") {
    val oneSlow = scaled(q => if (q == "q05") 3.0 else 1.0)
    val d = Diag.compare(prior, oneSlow)
    assert(d.medianRatio === 1.0 +- 1e-9)
    assert(d.totalRatio <= Diag.DriftRatio)
    assert(!d.flagged, d)
    assert(d.moved === Seq("q05"))
  }

  test("only the queries both sweeps have are compared") {
    val d = Diag.compare(prior, Map("q01" -> 0.2, "q_new" -> 99.0))
    assert(d.medianRatio === 2.0 +- 1e-9 && d.totalRatio === 2.0 +- 1e-9)
    assert(d.moved === Seq("q01"))
  }

  test("8-core and 32-core sweeps write disjoint priors") {
    assert(Diag.artifactPath(8) != Diag.artifactPath(32))
  }

  test("the timer runs a UDF column that count() prunes") {
    val calls = spark.sparkContext.longAccumulator("diag-udf-calls")
    val tagged = udf { (id: Long) => calls.add(1); id * 2 }
    def df = spark.range(0, 100, 1, 2).withColumn("tagged", tagged(col("id")))
    assert(df.count() === 100)
    assert(calls.value === 0, "count() never evaluates the UDF column")
    Diag.materialize(df)
    assert(calls.value === 100, "noop materializes every output column")
  }

  test("a query that fails lands in the artifact's failed list") {
    val path = Files.createTempDirectory("diag-spec-").resolve("sweep.json").toString
    assert(!Diag.time(spark, Seq("q1_agg", "q_no_such_query"), sf, 2, Some(path)))
    val artifact = Json.mapper.readTree(Path.of(path).toFile)
    assert(artifact.path("failed").get(0).asText() === "q_no_such_query")
    assert(artifact.path("failed").size() === 1)
    assert(artifact.path("queries").path("q1_agg").path("warm").asDouble() > 0)
    assert(artifact.path("queries").path("q1_agg").path("warm_compiles").isIntegralNumber)
    assert(artifact.path("queries").path("q1_agg").path("cold_compiles").isIntegralNumber)
    assert(artifact.path("codegen_cache_entries").asInt() === Tables.CodegenCacheEntries)
  }
}
