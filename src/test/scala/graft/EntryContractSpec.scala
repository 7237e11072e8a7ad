package graft

import scala.jdk.CollectionConverters._

import graft.operators.RelationalOps

/** Driver-contract consistency + physical-plan shape assertions (the
  * "would this survive 100x scale" checks: pushdown reached the scan,
  * dimension joins broadcast, no oracle without a query).
  */
class EntryContractSpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all declared queries execute and return rows at sf0.001") {
    val empty = SparkEntry.queries.flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"queries with 0 rows: $empty")
  }

  test("q1Agg pushes the shipdate filter into the parquet scan") {
    val plan = RelationalOps.q1Agg(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected pushdown in plan:\n$plan")
  }

  test("q3Join broadcasts the filtered customer dimension") {
    val plan = RelationalOps.q3Join(spark, sf).queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 1, s"expected the customer broadcast join in plan:\n$plan")
  }

  test("q1Agg aggregates inside whole-stage codegen") {
    val df = RelationalOps.q1Agg(spark, sf)
    df.collect() // AQE finalizes the physical plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen spans:\n$plan")
  }

  test("the program reads exactly the SPARK_GRAFT_CPUS and SPARK_GRAFT_CONF env vars") {
    val read = """(?:sys\.env|getenv)""".r
    val byName = """(?:sys\.env(?:\.[a-zA-Z]+)?|getenv)\(\s*"([^"]+)"""".r
    val files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty, "no program sources under src/main/scala")
    val names = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val named = byName.findAllMatchIn(src).map(_.group(1)).toList
      // every read must name its variable literally, or this list is blind to it
      assert(read.findAllMatchIn(src).size === named.size,
        s"$f reads the environment without a literal variable name")
      named
    }.toSet
    assert(names === Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_CONF"))
  }
}
