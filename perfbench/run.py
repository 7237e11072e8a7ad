#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py, into
$CARGO_TARGET_DIR or .bench_build), generates the workload's inputs from
the seed (perfbench/gen.py), times set-up in fresh JVMs, runs the
workload in a fresh JVM on a local[nproc] session (perfbench/scala),
checks every output, and prints the environment stamp and then, as the
last line, {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
the per-layer ones, plus the span file, the count-vs-noop table and the
tracing overhead under .bench_out/<run>/.
"""
import argparse
import copy
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
from workloads import MODULES, STREAM_QUERIES, WORKLOADS  # noqa: E402

XMX = "1536m"
JVM_TIMEOUT_S = 140
CHECK_TIMEOUT_S = 60
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
KERNELS = ["minhash", "shingle_hash32", "intersect_size", "cosine_sim", "levenshtein"]
MODULE_METRICS = ["wall_s", "build_s", "cold_extra_s", "stages", "tasks",
                  "exec_cpu_s", "shuffle_mb", "exchanges"]


class BenchError(RuntimeError):
    pass


def pct(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    if not s:
        raise BenchError("no samples")
    i = q * (len(s) - 1)
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def nproc():
    return len(os.sched_getaffinity(0))


def java_pids():
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/comm") as fh:
                    if fh.read().strip() == "java":
                        pids.append(int(p))
            except OSError:
                pass
    return pids


def cpu_ticks():
    """This machine's /proc/stat CPU ticks: (busy, stolen, total); the
    same busy fields as the harness's Harness.cpuTicks."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7], sum(v[:8])


def git_commit(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def launch(cp, kv, workdir, log):
    """Run the harness in a fresh JVM whose scratch space is `workdir`."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_CONF", None)
    props = [f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}"]
    busy, stolen, _ = cpu_ticks()
    kv = dict(kv, t0_ms=int(time.time() * 1000), t0_busy=busy, t0_steal=stolen)
    cmd = ["java", *props, *ADD_OPENS, "-cp", cp, "graftbench.Harness",
           *[f"{k}={v}" for k, v in kv.items()]]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=lf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"harness timed out after {JVM_TIMEOUT_S}s (log: {log})")
    result = os.path.join(kv["out"], "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"harness exited {rc} (log: {log})\n{tail}")
    with open(result) as fh:
        return json.load(fh)


def check_batch(root, data, verify, work, cpus, ops):
    """tools/check.py over the dumped outputs: DuckDB oracle for every
    oracle-backed operation, row count > 0 for the rest."""
    report = os.path.join(work, "check.json")
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ, GRAFT_DUCKDB_THREADS=str(cpus), GRAFT_DUCKDB_MEMLIMIT="2GB",
               GRAFT_CHECK_ONLY=",".join(ops), TMPDIR=tmp)
    env.pop("GRAFT_DUCKDB_UNORDERED", None)
    with open(os.path.join(work, "check.log"), "w") as lf:
        subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, verify, report],
                       cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                       timeout=CHECK_TIMEOUT_S)
    if not os.path.exists(report):
        raise BenchError(f"output check wrote no report (log: {work}/check.log)")
    with open(report) as fh:
        return json.load(fh)["queries"]


def batch_outcome(wl, res, checked):
    """Executions attempted and failed: an execution fails if it threw, or
    if its operation's result did not pass the check."""
    ops = [op for op, _ in wl["ops"]]
    wrong = {op: (checked.get(op) or {}).get("err") or "not checked" for op in ops
             if op in res["dump_errors"] or op not in checked
             or checked[op].get("hash_match") is False
             or (checked[op].get("hash_match") is None and not checked[op].get("spark_rows"))}
    passes = [res["cold"], *res["warm"]]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"] or o["op"] in wrong)
    errors = {o["op"]: o["err"] for p in passes for o in p["ops"] if not o["ok"]}
    errors.update(wrong)
    return attempted, failed, errors


def without_steal(res):
    """The harness result with every measured interval's wall time times
    the share of CPU time that ran in it, busy / (busy + stolen): on a
    shared virtual machine the host's other guests stretch wall times
    independently of the program. The harness records each interval's
    share beside its wall time."""
    r = copy.deepcopy(res)
    r["setup_s"] *= r["setup_share"]
    if "cold" in r:
        for p in [r["cold"], *r["warm"]]:
            p["wall_s"] *= p["share"]
            for o in p["ops"]:
                o["build_s"] *= o["share"]
                o["exec_s"] *= o["share"]
    st = r.get("stream")
    if st:
        st["warmup_s"] *= st["warmup_share"]
        for d in st["drains"]:
            d["s"] *= d["share"]
        st["lag_ms"] = [x * st["open_share"] for x in st["lag_ms"]]
        for q in st["queries"].values():
            q["batch_ms"] = [x * st["measured_share"] for x in q["batch_ms"]]
    return r


def end_to_end_batch(res, input_rows):
    warm = res["warm"]
    lat = [o["build_s"] + o["exec_s"] for p in warm for o in p["ops"]]
    warm_pass = statistics.median(p["wall_s"] for p in warm)
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["cold"]["wall_s"],
        "warm_pass_s": warm_pass,
        "op_p50_s": pct(lat, 0.5),
        "op_p90_s": pct(lat, 0.9),
        "peak_rss_mb": res["peak_rss_mb"],
        # a batch pass drains the workload's inputs; its "lag" is the time
        # from submitting an operation to its full result
        "stream_drain_eps": input_rows / warm_pass,
        "stream_lag_p50_ms": 1000 * pct(lat, 0.5),
        "stream_lag_p99_ms": 1000 * pct(lat, 0.99),
    }, {"op_samples": len(lat), "beyond_p90": sum(1 for x in lat if x > pct(lat, 0.9)),
        "warm_passes": len(warm)}


def end_to_end_stream(res):
    st = res["stream"]
    batch_ms = [b for q in st["queries"].values() for b in q["batch_ms"]]
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": st["warmup_s"],
        "warm_pass_s": statistics.median(d["s"] for d in st["drains"]),
        "op_p50_s": pct(batch_ms, 0.5) / 1000,
        "op_p90_s": pct(batch_ms, 0.9) / 1000,
        "peak_rss_mb": res["peak_rss_mb"],
        "stream_drain_eps": statistics.median(d["records"] / d["s"] for d in st["drains"]),
        "stream_lag_p50_ms": pct(st["lag_ms"], 0.5),
        "stream_lag_p99_ms": pct(st["lag_ms"], 0.99),
    }, {"micro_batches": len(batch_ms), "ticks": st["ticks"], "lag_samples": len(st["lag_ms"]),
        "events_fed": st["events_fed"], "docs_fed": st["docs_fed"],
        "gen_late_ms_max": max(st["gen_late_ms"]), "catchup_s": st["catchup_s"]}


def per_layer(wl, res):
    """Per-layer metrics of a traced run; layers a workload does not run
    read 0."""
    m = {}
    traced = [p for p in res.get("warm", []) if p["traced"]]
    untraced = [p for p in res.get("warm", []) if not p["traced"]]
    counters = res.get("counters", {})
    module_of = dict(wl.get("ops", []))

    def per_pass(p, mod, f):
        return sum(f(o, p["pass"]) for o in p["ops"] if module_of[o["op"]] == mod)

    def counter(key):
        return lambda o, n: (counters.get(f"p{n}/{o['op']}") or {}).get(key, 0)

    for mod in MODULES:
        vals = dict.fromkeys(MODULE_METRICS, 0.0)
        if traced and mod in module_of.values():
            lat = lambda o, n: o["build_s"] + o["exec_s"]  # noqa: E731
            vals["wall_s"] = statistics.median(per_pass(p, mod, lat) for p in traced)
            vals["build_s"] = statistics.median(per_pass(p, mod, lambda o, n: o["build_s"]) for p in traced)
            vals["cold_extra_s"] = per_pass(res["cold"], mod, lat) - vals["wall_s"]
            for key in ("stages", "tasks", "exec_cpu_s", "shuffle_mb", "exchanges"):
                vals[key] = statistics.median(per_pass(p, mod, counter(key)) for p in traced)
        m.update({f"{mod}.{k}": v for k, v in vals.items()})
    m["Tables.session_s"] = res["session_s"]
    m["Tables.scan_s"] = res.get("scan_s", 0.0)
    n_warm = max(1, len(res.get("warm", [])))
    m["Memo.cached_mb"] = res.get("memo_cold_mb", 0.0)
    m["Memo.growth_mb_per_pass"] = (res.get("memo_warm_mb", 0.0) - res.get("memo_cold_mb", 0.0)) / n_warm
    kernels = res.get("kernels") or {}
    for k in KERNELS:
        m[f"functions.{k}_ns_per_row"] = kernels.get(f"{k}_ns_per_row", 0.0)
    m["jvm.gc_s"] = res.get("gc_warm_s", res.get("gc_s_total", 0.0)) / n_warm
    m["spark.spill_mb"] = statistics.median(
        [sum(counter("spill_mb")(o, p["pass"]) for o in p["ops"]) for p in traced] or [0.0])
    st = res.get("stream", {})
    queries = st.get("queries", {})
    for q in STREAM_QUERIES:
        qs = queries.get(q, {})
        m[f"{q}.batch_p50_ms"] = statistics.median(qs["batch_ms"]) if qs.get("batch_ms") else 0.0
        m[f"{q}.state_rows_peak"] = qs.get("state_rows_peak", 0)
        m[f"{q}.state_mb_peak"] = qs.get("state_mb_peak", 0.0)
    m["stream.gen_late_ms"] = max(st.get("gen_late_ms") or [0.0])
    m["stream.backlog_rows_end"] = st.get("backlog_rows_end", 0)
    lags = [q["watermark_lag_s"] for q in queries.values() if q.get("watermark_lag_s") is not None]
    m["stream.watermark_lag_s"] = max(lags or [0.0])
    m["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(p["wall_s"] for p in untraced)
                             if traced and untraced else 0.0)
    return m


def trace_files(wl, res, out):
    """Side outputs of the traced run: count-vs-noop per operation and the
    self time of each layer (operation time outside its Spark stages)."""
    if "count_s" in res and res["warm"]:
        noop = {o["op"]: [] for o in res["warm"][0]["ops"]}
        for p in res["warm"]:
            for o in p["ops"]:
                noop[o["op"]].append(o["build_s"] + o["exec_s"])
        table = {op: {"noop_s": statistics.median(v), "count_s": res["count_s"][op],
                      "noop_over_count": statistics.median(v) / max(res["count_s"][op], 1e-9)}
                 for op, v in noop.items()}
        with open(os.path.join(out, "count_vs_noop.json"), "w") as fh:
            json.dump(table, fh, indent=1, sort_keys=True)
    spans_path = os.path.join(out, "spans.jsonl")
    if not os.path.exists(spans_path):
        return
    with open(spans_path) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    module_of = dict(wl.get("ops", []))
    passes = max(1, sum(1 for p in res.get("warm", []) if p["traced"]))
    self_s = {}
    for s in spans:
        pass_id, _, op = s["op"].partition("/")
        if s["name"] in ("build", "execute") and pass_id != "p0":
            key = f"{module_of[op]}.{s['name']}"
            busy = covered(s, children.get(s["id"], []))
            self_s[key] = self_s.get(key, 0.0) + (s["end_us"] - s["start_us"] - busy) / 1e6 / passes
    with open(os.path.join(out, "self_time.json"), "w") as fh:
        json.dump(self_s, fh, indent=1, sort_keys=True)


def covered(span, children):
    """Microseconds of `span` covered by the union of its children."""
    total, reach = 0, span["start_us"]
    for c in sorted(children, key=lambda c: c["start_us"]):
        lo, hi = max(c["start_us"], reach), min(c["end_us"], span["end_us"])
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def stream_events(cfg, seconds):
    """Events the stream run feeds, with room to spare."""
    return int(1.3 * (cfg["warmup"] + cfg["drains"] * cfg["backlog"] + cfg["rate"] * seconds)) + 1000


def run(args, root):
    wl = WORKLOADS[args.workload]
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    cp = build.build(root, build_dir)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".bench_work", run_id)
    out = os.path.join(root, ".bench_out", run_id)
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cpus = nproc()
    ticks0 = cpu_ticks()
    env = {"nproc": os.cpu_count(), "cpus": cpus, "loadavg_start": os.getloadavg(),
           "other_jvms_start": len(java_pids()), "git_commit": git_commit(root),
           "source_digest": open(os.path.join(build_dir, "stamp")).read(),
           "seed": args.seed, "xmx": XMX, "workload": args.workload, "trace": args.trace}

    data = os.path.join(work, "data")
    sizes = dict(wl["sizes"])
    if wl["kind"] == "stream":
        sizes["events"] = stream_events(wl["stream"], args.seconds)
    marks = [("start", time.time())]
    env["input_rows"] = gen.generate(data, args.seed, sizes)
    marks.append(("generate", time.time()))

    kv = {"mode": wl["kind"], "data": data, "out": out, "cpus": cpus,
          "seconds": args.seconds, "trace": args.trace}
    if wl["kind"] == "batch":
        kv["ops"] = ",".join(op for op, _ in wl["ops"])
    else:
        kv.update(wl["stream"])
    raw = launch(cp, kv, work, os.path.join(out, "jvm.log"))
    res = without_steal(raw)
    marks.append(("workload_jvm", time.time()))
    env.update({"session_cpus": res["cpus"], "xmx_mb": res["xmx_mb"]})

    if wl["kind"] == "batch":
        checked = check_batch(root, data, os.path.join(out, "verify"), work, cpus,
                              [op for op, _ in wl["ops"]])
        attempted, failed, errors = batch_outcome(wl, res, checked)
        e2e, detail = end_to_end_batch(res, sum(env["input_rows"].values()))
        e2e_raw, _ = end_to_end_batch(raw, sum(env["input_rows"].values()))
    else:
        checks = res["checks"]
        attempted = len(checks)
        errors = {q: c["err"] for q, c in checks.items() if not c["ok"]}
        failed = len(errors)
        e2e, detail = end_to_end_stream(res)
        e2e_raw, _ = end_to_end_stream(raw)
    e2e["ops_ok_frac"] = 1.0 - failed / attempted
    marks.append(("check", time.time()))
    env["phase_s"] = {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])}
    env.update(detail)
    ticks1 = cpu_ticks()
    elapsed = max(1, ticks1[2] - ticks0[2])
    env.update({"cpu_busy_frac": (ticks1[0] - ticks0[0]) / elapsed,
                "cpu_steal_frac": (ticks1[1] - ticks0[1]) / elapsed,
                "wall_metrics": e2e_raw})
    env.update({"loadavg_end": os.getloadavg(), "other_jvms_end": len(java_pids()),
                "errors": errors})

    if args.trace:
        metrics = per_layer(wl, res)
        trace_files(wl, res, out)
    else:
        metrics = e2e
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    missing = set(units) - set(metrics)
    if missing:
        raise BenchError(f"metrics not produced: {sorted(missing)}")
    with open(os.path.join(out, "summary.json"), "w") as fh:
        json.dump({"env": env, "end_to_end": e2e, "metrics": metrics}, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala", "tools/check.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"perfbench: {need} not found; run from the root of a graft checkout")
    try:
        run(args, root)
    except (BenchError, build.BuildError, subprocess.SubprocessError, OSError) as e:
        sys.exit(f"perfbench: {e}")


if __name__ == "__main__":
    main()
