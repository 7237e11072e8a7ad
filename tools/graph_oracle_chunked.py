#!/usr/bin/env python3
"""Chunked/materialized DuckDB oracle for the six graph-family queries.

The registered oracles for q_coaccess_components / q_component_density /
q_blast_radius / q_knn_triangles / q_clustering_coeff / q_peer_anomaly
are single-statement recursive-CTE SQL (SparkEntry.oracleSql). On iid
x10-amplified fixtures two pieces exceed single-node DuckDB resources
(GATE_X10_IID.json r10-r14 skip reasons):

  1. the pair-frame self-join's Sigma deg^2 intermediate spills past the
     container disk before the GROUP BY reduces it, and
  2. the `reach(s,d)` transitive-closure CTE enumerates |component|^2
     rows per component — quadratic in component size by construction.

This tool computes the SAME results with bounded resources (the r14
verdict's option (b): "chunked/materialized oracle variants"):

  * the pair frame is built in resource-hash CHUNKS (each chunk's
    self-join + partial count aggregated separately, partials summed
    across chunks — associative, so HAVING sum >= 2 over the summed
    partials equals the one-shot HAVING count >= 2), and
  * connected components come from ITERATIVE min-label propagation to
    fixpoint (per round: one join + one min-aggregate, linear in edges),
    which converges to exactly the closure's `min(d) GROUP BY s` — the
    minimum node id reachable from each node, self included.

Every DOWNSTREAM select (seeds/hops, knn/triangles, density, peer
z-scores) is copied VERBATIM from the registered oracle SQL, reading the
materialized ur/pc/e/comp tables instead of re-deriving them — and
--selfcheck runs the ORIGINAL single-statement oracle from
oracle_sql.json side by side and asserts frame equality, which is how
the rewrite is pinned to the registered text at small scale before the
large-scale run trusts it.

Usage:
  graph_oracle_chunked.py <sfDir> <verifyOutDir> [jsonOut]
      [--chunks K] [--threads N] [--memlimit S] [--selfcheck]
      [--only q1,q2] [--dbdir DIR]

Output json entries are check.py-shaped (rows/schema/hash match) so
merge_gate.py can fold them into a gate artifact. check.py dispatches
here automatically for the six when the fixture exceeds its auto
threshold (r15 verdict #3 — one gate entrypoint, no hand-merged
bifurcation), via run() below.
"""
import sys, os, re, json, glob, shutil, tempfile, time
import duckdb
import pandas as pd
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon, TABLES  # same canonicalization as the driver gate

GRAPH_QUERIES = [
    "q_coaccess_components", "q_component_density", "q_blast_radius",
    "q_knn_triangles", "q_clustering_coeff", "q_peer_anomaly",
]

# The null-policy universe every graph oracle reads (verbatim from the
# registered SQL).
POLICIED = ("(SELECT * FROM events WHERE user_id IS NOT NULL "
            "AND ts IS NOT NULL AND event_type IS NOT NULL) events")

# ---------------------------------------------------------------------------
# Downstream tails, verbatim from SparkEntry.oracleSql (the shared
# ur/keep/pr/e/reach+comp CTE prefix is replaced by the materialized
# tables of the same content; `pr` is materialized as `pc`).
# ---------------------------------------------------------------------------
# The kNN sparsifier and its triangle count (SparkEntry.knnTriangleCtes).
KNN_TRIANGLES = """        WITH dirp AS (SELECT ua AS u, ub AS v, c FROM pc
           UNION ALL SELECT ub, ua, c FROM pc),
         knn AS (SELECT u, v FROM (
             SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY c DESC, v) AS rk
             FROM dirp) WHERE rk <= 3),
         und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM knn),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1
           JOIN und e2 ON e1.b = e2.a
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         tc AS (SELECT user_id, count(*) AS n_triangles FROM (
             SELECT x AS user_id FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY 1)"""

TAILS = {
    "q_coaccess_components": f"""
        WITH users AS (SELECT DISTINCT user_id FROM {POLICIED}),
         c AS (SELECT u.user_id, COALESCE(comp.cid, u.user_id) AS component_id
           FROM users u LEFT JOIN comp ON u.user_id = comp.uid),
         sz AS (SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
           FROM c GROUP BY 1)
         SELECT c.user_id, c.component_id, sz.component_size
         FROM c JOIN sz USING (component_id) ORDER BY c.user_id""",
    "q_component_density": f"""
        WITH users AS (SELECT DISTINCT user_id FROM {POLICIED}),
         c AS (SELECT u.user_id, COALESCE(comp.cid, u.user_id) AS component_id
           FROM users u LEFT JOIN comp ON u.user_id = comp.uid),
         nc AS (SELECT component_id, count(*) AS n_users FROM c GROUP BY 1),
         ec AS (SELECT comp.cid AS component_id, count(*) AS n_edges
           FROM pc pr JOIN comp ON pr.ua = comp.uid GROUP BY 1)
         SELECT nc.component_id, CAST(nc.n_users AS BIGINT) AS n_users,
           CAST(COALESCE(ec.n_edges, 0) AS BIGINT) AS n_edges,
           CAST(CASE WHEN nc.n_users >= 2
             THEN (COALESCE(ec.n_edges, 0) * 2 * 10000)
               // (nc.n_users * (nc.n_users - 1))
             ELSE 0 END AS BIGINT) AS density_bp
         FROM nc LEFT JOIN ec USING (component_id)
         ORDER BY component_id""",
    "q_blast_radius": f"""
        WITH seeds AS (SELECT user_id AS seed FROM {POLICIED} GROUP BY 1
           ORDER BY count(*) DESC, user_id LIMIT 10),
         h0 AS (SELECT seed, seed AS uid, 0 AS hop FROM seeds),
         h1 AS (SELECT DISTINCT h0.seed, e.b AS uid, 1 AS hop
           FROM h0 JOIN e ON h0.uid = e.a),
         h2 AS (SELECT DISTINCT h1.seed, e.b AS uid, 2 AS hop
           FROM h1 JOIN e ON h1.uid = e.a),
         h3 AS (SELECT DISTINCT h2.seed, e.b AS uid, 3 AS hop
           FROM h2 JOIN e ON h2.uid = e.a),
         allh AS (SELECT * FROM h0 UNION ALL SELECT * FROM h1
           UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
         SELECT seed AS seed_user, uid AS user_id,
           CAST(min(hop) AS BIGINT) AS hop
         FROM allh GROUP BY 1, 2 ORDER BY seed_user, hop, user_id""",
    "q_knn_triangles": f"""
{KNN_TRIANGLES}
         SELECT user_id, n_triangles FROM tc
         ORDER BY n_triangles DESC, user_id""",
    "q_clustering_coeff": f"""
{KNN_TRIANGLES},
         dire AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
         deg AS (SELECT a AS user_id, count(*) AS degree FROM dire GROUP BY 1)
         SELECT d.user_id, d.degree,
           CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN d.degree >= 2
             THEN (COALESCE(tc.n_triangles, 0) * 2 * 10000)
               // (d.degree * (d.degree - 1))
             ELSE 0 END AS BIGINT) AS lcc_bp
         FROM deg d LEFT JOIN tc USING (user_id) ORDER BY user_id""",
    "q_peer_anomaly": f"""
        WITH uf AS (WITH lg AS (
         SELECT user_id, event_type, json_extract_string(props,'$.k') AS resource,
           CASE WHEN EXTRACT(hour FROM ts) < 8 OR EXTRACT(hour FROM ts) > 18 THEN 1 ELSE 0 END AS iah,
           CASE WHEN isodow(ts)-1 >= 5 THEN 1 ELSE 0 END AS iw
         FROM {POLICIED}),
       base AS (
         SELECT user_id, count(*) AS total_activities,
           CAST(sum(iah) AS BIGINT) AS after_hours_activities,
           CAST(sum(iw) AS BIGINT) AS weekend_activities,
           count(DISTINCT resource) AS unique_resources,
           count(DISTINCT event_type) AS activity_types
         FROM lg GROUP BY user_id),
       ae AS (
         SELECT user_id, round(log2(sum(f)) - sum(f*log2(f))/sum(f), 4) AS activity_entropy
         FROM (SELECT user_id, event_type, count(*)::DOUBLE AS f FROM {POLICIED} GROUP BY 1,2)
         GROUP BY user_id),
       te AS (
         SELECT user_id, round(log2(sum(f)) - sum(f*log2(f))/sum(f), 4) AS temporal_entropy
         FROM (SELECT user_id, EXTRACT(hour FROM ts) AS h, count(*)::DOUBLE AS f FROM {POLICIED} GROUP BY 1,2)
         GROUP BY user_id)
       SELECT b.user_id, total_activities, after_hours_activities, weekend_activities,
         unique_resources, activity_types, activity_entropy, temporal_entropy,
         round(after_hours_activities*1.0/greatest(total_activities,1), 4) AS after_hours_ratio,
         round(weekend_activities*1.0/greatest(total_activities,1), 4) AS weekend_ratio
       FROM base b JOIN ae USING(user_id) JOIN te USING(user_id)),
         users AS (SELECT DISTINCT user_id FROM {POLICIED}),
         c AS (SELECT u.user_id, COALESCE(comp.cid, u.user_id) AS component_id
           FROM users u LEFT JOIN comp ON u.user_id = comp.uid),
         x AS (SELECT c.user_id, c.component_id,
             CAST(uf.total_activities AS DECIMAL(18,0)) AS ta,
             CAST(uf.unique_resources AS DECIMAL(18,0)) AS uq,
             CAST(round(uf.after_hours_ratio * 10000) AS DECIMAL(18,0)) AS ahr4
           FROM c JOIN uf USING (user_id)),
         st AS (SELECT component_id, count(*) AS n,
             sum(ta) AS s_ta, sum(ta*ta) AS ss_ta,
             sum(uq) AS s_uq, sum(uq*uq) AS ss_uq,
             sum(ahr4) AS s_ah, sum(ahr4*ahr4) AS ss_ah
           FROM x GROUP BY 1),
         pz AS (SELECT x.user_id, x.component_id, st.n,
             round(greatest(CASE WHEN (ss_ta::DOUBLE - s_ta::DOUBLE*s_ta::DOUBLE/n::DOUBLE)/n::DOUBLE > 0
               THEN abs(ta::DOUBLE - s_ta::DOUBLE/n::DOUBLE) / sqrt((ss_ta::DOUBLE - s_ta::DOUBLE*s_ta::DOUBLE/n::DOUBLE)/n::DOUBLE) ELSE 0 END, CASE WHEN (ss_uq::DOUBLE - s_uq::DOUBLE*s_uq::DOUBLE/n::DOUBLE)/n::DOUBLE > 0
               THEN abs(uq::DOUBLE - s_uq::DOUBLE/n::DOUBLE) / sqrt((ss_uq::DOUBLE - s_uq::DOUBLE*s_uq::DOUBLE/n::DOUBLE)/n::DOUBLE) ELSE 0 END,
               CASE WHEN (ss_ah::DOUBLE - s_ah::DOUBLE*s_ah::DOUBLE/n::DOUBLE)/n::DOUBLE > 0
               THEN abs(ahr4::DOUBLE - s_ah::DOUBLE/n::DOUBLE) / sqrt((ss_ah::DOUBLE - s_ah::DOUBLE*s_ah::DOUBLE/n::DOUBLE)/n::DOUBLE) ELSE 0 END), 4) AS peer_z
           FROM x JOIN st USING (component_id))
         SELECT user_id, component_id, CAST(n AS BIGINT) AS peer_n, peer_z,
           CAST(CASE WHEN peer_z > 3.0 THEN 1 ELSE 0 END AS BIGINT) AS is_peer_outlier
         FROM pz ORDER BY user_id""",
}


def log(msg):
    print(f"[graph-oracle {time.strftime('%H:%M:%S')}] {msg}", flush=True)


def derive_cap(oracle):
    """Pin this tool's shared prefix to the REGISTERED oracle text (r15
    advisory): the degree cap is READ from oracle_sql.json instead of
    hardcoded, and the structural fragments the TAILS transcribe (the
    pair HAVING threshold, the knn fanout) are asserted present — so if
    SparkEntry's $DegCap or oracle shape ever changes, this tool fails
    loudly at startup instead of silently diverging until someone
    remembers to re-run --selfcheck.
    """
    caps = set()
    for name in GRAPH_QUERIES:
        sql = oracle.get(name)
        if sql is None:
            raise SystemExit(f"graph_oracle_chunked: {name} missing from "
                             "oracle_sql.json — registry/tool drift")
        found = re.findall(r"HAVING\s+count\(\*\)\s*<=\s*(\d+)", sql)
        if not found:
            raise SystemExit(
                f"graph_oracle_chunked: registered oracle for {name} no "
                "longer contains 'HAVING count(*) <= <cap>' — the chunked "
                "prefix is out of date; re-derive it and re-run --selfcheck")
        caps.update(int(c) for c in found)
        if "count(*) >= 2" not in sql:
            raise SystemExit(
                f"graph_oracle_chunked: registered oracle for {name} lost "
                "the pair threshold 'count(*) >= 2' the chunked fold sums to")
        if name in ("q_knn_triangles", "q_clustering_coeff") \
                and "rk <= 3" not in sql:
            raise SystemExit(
                f"graph_oracle_chunked: registered oracle for {name} lost "
                "the knn fanout 'rk <= 3' the TAILS transcribe")
    if len(caps) != 1:
        raise SystemExit("graph_oracle_chunked: inconsistent degree caps "
                         f"across the six registered oracles: {sorted(caps)}")
    return caps.pop()


def build_shared(con, chunks, cap):
    """Materialize ur / pc / e / comp with bounded per-step footprints."""
    t0 = time.time()
    con.execute(f"""CREATE TABLE ur AS
        SELECT DISTINCT user_id, json_extract_string(props,'$.k') AS res
        FROM {POLICIED}
        WHERE json_extract_string(props,'$.k') IS NOT NULL
          AND user_id IS NOT NULL""")
    con.execute(f"""CREATE TABLE urk AS
        SELECT user_id, res FROM ur WHERE res IN
          (SELECT res FROM ur GROUP BY res HAVING count(*) <= {cap})""")
    n_ur = con.execute("SELECT count(*) FROM urk").fetchone()[0]
    log(f"ur/keep materialized: {n_ur} kept (user,res) rows "
        f"({time.time() - t0:.0f}s)")
    # Chunked pair fold: partials per resource-hash chunk, summed after.
    # sum-of-partial-counts == one-shot count because each (ua,ub,res)
    # contributes to exactly one chunk.
    con.execute("CREATE TABLE pc_part (ua BIGINT, ub BIGINT, c BIGINT)")
    for i in range(chunks):
        t1 = time.time()
        con.execute(f"""INSERT INTO pc_part
            SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS c
            FROM urk a JOIN urk b
              ON a.res = b.res AND a.user_id < b.user_id
            WHERE hash(a.res) % {chunks} = {i}
            GROUP BY 1, 2""")
        log(f"  pair chunk {i + 1}/{chunks} ({time.time() - t1:.0f}s)")
    con.execute("""CREATE TABLE pc AS
        SELECT ua, ub, CAST(sum(c) AS BIGINT) AS c
        FROM pc_part GROUP BY 1, 2 HAVING sum(c) >= 2""")
    con.execute("DROP TABLE pc_part")
    n_pc = con.execute("SELECT count(*) FROM pc").fetchone()[0]
    log(f"pc materialized: {n_pc} pairs ({time.time() - t0:.0f}s total)")
    con.execute("""CREATE TABLE e AS
        SELECT ua AS a, ub AS b FROM pc UNION ALL SELECT ub, ua FROM pc""")
    # Iterative min-label propagation: fixpoint == the recursive
    # closure's min(d) per s (minimum node id reachable, self included).
    con.execute("CREATE TABLE lbl AS SELECT DISTINCT a AS uid, a AS l FROM e")
    rounds = 0
    while True:
        rounds += 1
        con.execute("""CREATE TABLE nl AS
            SELECT e.b AS uid, min(x.l) AS ml
            FROM e JOIN lbl x ON e.a = x.uid GROUP BY e.b""")
        con.execute("""CREATE TABLE lbl2 AS
            SELECT lbl.uid, least(lbl.l, coalesce(nl.ml, lbl.l)) AS l
            FROM lbl LEFT JOIN nl USING (uid)""")
        changed = con.execute("""SELECT count(*) FROM lbl JOIN lbl2 USING (uid)
            WHERE lbl.l <> lbl2.l""").fetchone()[0]
        con.execute("DROP TABLE lbl")
        con.execute("DROP TABLE nl")
        con.execute("ALTER TABLE lbl2 RENAME TO lbl")
        log(f"  min-label round {rounds}: {changed} labels moved")
        if changed == 0:
            break
        if rounds > 200:
            raise RuntimeError("min-label propagation did not converge")
    con.execute("CREATE TABLE comp AS SELECT uid, l AS cid FROM lbl")
    log(f"comp materialized after {rounds} rounds "
        f"({time.time() - t0:.0f}s total)")


def compare(name, spark_df, duck_df, report):
    rec = {"rows_match": len(spark_df) == len(duck_df),
           "schema_match": list(spark_df.columns) == list(duck_df.columns),
           "hash_match": False,
           "spark_rows": len(spark_df), "oracle_rows": len(duck_df),
           "err": None, "oracle_variant": "chunked_materialized"}
    report[name] = rec
    if not rec["schema_match"]:
        log(f"FAIL {name}: cols spark={list(spark_df.columns)} "
            f"duck={list(duck_df.columns)}")
        return False
    if not rec["rows_match"]:
        log(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
        return False
    bad = []
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        if pd.api.types.is_float_dtype(a):
            ok = np.allclose(a.fillna(-1e308), b.fillna(-1e308), rtol=0, atol=0)
        else:
            ok = a.equals(b)
        if not ok:
            bad.append(c)
    if bad:
        log(f"FAIL {name}: value mismatch in {bad}")
        rec["err"] = f"value mismatch in {bad}"
        return False
    rec["hash_match"] = True
    log(f"ok   {name} ({len(spark_df)} rows, {len(spark_df.columns)} cols)")
    return True


def run(sf_dir, out_dir, chunks=8, threads=8, memlimit="40GB", only=None,
        selfcheck=False, dbdir=None):
    """Compute + compare the six graph oracles; returns (report, ok, bad).

    Callable from check.py (the unified gate path) as well as the CLI.
    """
    keep_dbdir = dbdir is not None
    if dbdir is None:
        dbdir = tempfile.mkdtemp(prefix="graft_graph_oracle_")
    os.makedirs(dbdir, exist_ok=True)
    dbfile = os.path.join(dbdir, "graph_oracle.duckdb")
    if os.path.exists(dbfile):
        os.remove(dbfile)
    con = duckdb.connect(dbfile)  # on-disk: materialized tables may exceed RAM
    con.execute(f"SET threads={threads}")
    con.execute(f"SET memory_limit='{memlimit}'")
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"SET temp_directory='{dbdir}/spill'")

    def src(p):
        return f"{p}/*.parquet" if os.path.isdir(p) else p
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src(p)}')")
    # same ts adaptation as check.py (amplified fixtures write int64 nanos)
    tstype = [r for r in con.execute("DESCRIBE events").fetchall()
              if r[0] == "ts"][0][1]
    if tstype == "BIGINT":
        con.execute("CREATE OR REPLACE VIEW events AS "
                    "SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) "
                    f"FROM read_parquet('{src(sf_dir + '/events.parquet')}')")

    # cap + structural fragments come from the REGISTERED SQL (fails
    # loudly on drift) — the oracle must load before the shared prefix
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    cap = derive_cap(oracle)
    log(f"degree cap derived from registered oracle SQL: {cap}")
    build_shared(con, chunks, cap)

    report, n_ok, n_bad = {}, 0, 0
    for name in GRAPH_QUERIES:
        if only is not None and name not in only:
            continue
        res_dir = f"{out_dir}/{name}"
        if not glob.glob(f"{res_dir}/*.parquet"):
            log(f"FAIL {name}: no spark output")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": "no spark output",
                            "oracle_variant": "chunked_materialized"}
            n_bad += 1
            continue
        t0 = time.time()
        duck_df = canon(con.execute(TAILS[name]).df())
        log(f"{name}: chunked oracle computed in {time.time() - t0:.0f}s")
        if selfcheck:
            t1 = time.time()
            plain = canon(con.execute(oracle[name]).df())
            same = (list(plain.columns) == list(duck_df.columns)
                    and len(plain) == len(duck_df)
                    and all((plain[c].equals(duck_df[c])
                             if not pd.api.types.is_float_dtype(plain[c])
                             else np.allclose(plain[c].fillna(-1e308),
                                              duck_df[c].fillna(-1e308),
                                              rtol=0, atol=0))
                            for c in plain.columns))
            log(f"{name}: selfcheck vs registered oracle "
                f"{'EQUAL' if same else 'DIVERGED'} ({time.time() - t1:.0f}s)")
            if not same:
                report[name] = {"rows_match": False, "schema_match": False,
                                "hash_match": False,
                                "err": "chunked variant diverged from registered oracle",
                                "oracle_variant": "chunked_materialized"}
                n_bad += 1
                continue
        spark_df = canon(pd.read_parquet(res_dir))
        if compare(name, spark_df, duck_df, report):
            n_ok += 1
        else:
            n_bad += 1
    con.close()
    if not keep_dbdir:
        shutil.rmtree(dbdir, ignore_errors=True)
    return report, n_ok, n_bad


def main(argv):
    import argparse
    p = argparse.ArgumentParser(
        description="Chunked/materialized DuckDB oracle for the six "
                    "graph-family queries (see module docstring)")
    p.add_argument("sf_dir")
    p.add_argument("out_dir")
    p.add_argument("json_out", nargs="?", default=None)
    p.add_argument("--chunks", type=int, default=8)
    p.add_argument("--threads", type=int, default=8)
    p.add_argument("--memlimit", default="40GB")
    p.add_argument("--only", default=None,
                   help="comma-separated subset of the six query names")
    p.add_argument("--selfcheck", action="store_true",
                   help="also run the ORIGINAL registered oracle and assert "
                        "frame equality (small scales only)")
    p.add_argument("--dbdir", default=None,
                   help="db/spill directory to use AND keep (default: temp, "
                        "removed on exit)")
    a = p.parse_args(argv)
    only = set(a.only.split(",")) if a.only else None
    report, n_ok, n_bad = run(a.sf_dir, a.out_dir, chunks=a.chunks,
                              threads=a.threads, memlimit=a.memlimit,
                              only=only, selfcheck=a.selfcheck, dbdir=a.dbdir)
    print(f"\n{n_ok} ok, {n_bad} failed")
    if a.json_out:
        json.dump({"sf_dir": a.sf_dir, "ok": n_ok, "failed": n_bad,
                   "queries": report}, open(a.json_out, "w"),
                  indent=1, sort_keys=True)
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
