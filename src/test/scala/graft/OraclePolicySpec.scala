package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the oracle-side null policy — the property a round-6 advisory
  * questioned for q_coaccess_components / q_peer_anomaly (their `users`
  * CTEs read `FROM events` with no explicit null filter). The policy is
  * not per-oracle text: `SparkEntry.withCleanEvents` rewrites EVERY
  * `FROM|JOIN events` reference in every non-exempt oracle to the
  * preprocess subquery mirroring `Tables.cleanEvents`
  * (data_preprocessing.py:29-31's null-drop). These tests make that
  * global rewrite's reach on the questioned CTEs an explicit contract
  * instead of an emergent regex property, so a regression (a new oracle
  * shape the pattern misses, an exemption creeping in) fails HERE with
  * the query name rather than as a hash mismatch on null-bearing driver
  * data three rounds later.
  */
class OraclePolicySpec extends AnyFunSuite {

  private val policy =
    "(SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL" +
      " AND event_type IS NOT NULL)"
  private val exempt = Set("q_profile", "q_dq_checks")

  test("every non-exempt oracle's events references all carry the null policy") {
    val bare = """(?i)\b(from|join)\s+events\b""".r
    for ((name, sql) <- SparkEntry.oracleSql if !exempt(name)) {
      // Every surviving `FROM events` must be the one INSIDE the policy
      // subquery (recognizable by the policy's WHERE following it).
      val policyTail =
        " WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL)"
      val unpolicied = bare.findAllMatchIn(sql).filterNot { m =>
        sql.regionMatches(m.end, policyTail, 0, policyTail.length)
      }.toList
      assert(unpolicied.isEmpty,
        s"$name has ${unpolicied.size} unpolicied events reference(s)")
    }
  }

  test("graph-family users CTEs read the policied universe (r6 advisory)") {
    // The advisory's exact concern: `users AS (SELECT DISTINCT user_id
    // FROM events)` must not admit NULL users or users whose only rows
    // are unclean — i.e. the final SQL's users CTE must select from the
    // policy subquery, matching the Spark side's Tables.cleanEvents.
    for (name <- Seq("q_coaccess_components", "q_peer_anomaly")) {
      val sql = SparkEntry.oracleSql(name)
      assert(sql.contains(s"users AS (SELECT DISTINCT user_id FROM $policy events)"),
        s"$name users CTE is not reading the null-policied events universe")
    }
  }

  test("co-access oracles share one projection and carry one degree cap") {
    // tools/graph_oracle_chunked.py reads the cap and the thresholds its
    // tails transcribe from these registered texts; a text that loses
    // one fails here instead of at the next chunked gate run.
    val capped = Seq("q_coaccess_capped", "q_coaccess_components",
      "q_peer_anomaly", "q_blast_radius", "q_kcore", "q_degree_dist",
      "q_component_density", "q_knn_triangles", "q_clustering_coeff",
      "q_assortativity")
    val uncapped = Seq("q_coaccess_pairs", "q_coaccess_jaccard")
    val degreeCap = """HAVING count\(\*\) <= (\d+)""".r
    def occurrences(sql: String, part: String): Int =
      sql.split(java.util.regex.Pattern.quote(part), -1).length - 1
    for ((names, isCapped) <- Seq(capped -> true, uncapped -> false); name <- names) {
      val sql = SparkEntry.oracleSql(name)
      val projection = SparkEntry.withCleanEvents(SparkEntry.coaccessCtes(isCapped))
      assert(occurrences(sql, projection) === 1,
        s"$name does not carry the shared co-access projection exactly once")
      assert(sql.contains("count(*) >= 2"), s"$name lost the pair threshold")
      val caps = degreeCap.findAllMatchIn(sql).map(_.group(1).toInt).toList
      val expected =
        if (isCapped) List(graft.operators.ThreatOps.CoaccessMaxDegree) else Nil
      assert(caps === expected, s"$name degree caps")
    }
    for (name <- Seq("q_knn_triangles", "q_clustering_coeff"))
      assert(SparkEntry.oracleSql(name).contains("rk <= 3"),
        s"$name lost the kNN fanout")
  }

  test("exempt set is exactly the two dirty-row profilers") {
    // q_profile counts the nulls themselves; q_dq_checks grades them.
    // Anything else appearing here would silently drop the policy.
    for (name <- exempt) {
      val sql = SparkEntry.oracleSql(name)
      assert(!sql.contains(policy), s"$name should read raw events")
    }
  }

  test("Json.write keeps any string in an artifact JSON-safe") {
    // Every character class an artifact string can carry: backslash,
    // quote, newline/CR/tab, and the remaining sub-0x20 control range.
    val hostile = "line1\nline2\r\ttabbed \"quoted\" back\\slash \u0001\u001f end"
    val json = Json.write(Map("oracle_sql" -> hostile))
    assert(!json.exists(_ < 0x20), "no raw control char may survive")
    assert(json.contains("\\n") && json.contains("\\r") &&
      json.contains("\\t") && json.contains("\\\"") &&
      json.contains("\\\\") && json.contains("\\u0001") &&
      json.contains("\\u001F"))
    // the written form must round-trip through a strict JSON parser
    // (jackson throws on any invalid literal)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.get("oracle_sql").asText() === hostile,
      "escape must be lossless under a strict JSON round-trip")
    // plain text passes through untouched
    assert(Json.write("host contention, isolated re-run measured 63.7s") ===
      "\"host contention, isolated re-run measured 63.7s\"")
  }
}
