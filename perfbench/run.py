#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Builds graft and the harness from the checkout (perfbench/build.py),
runs the JVM harness (perfbench/src) on the sf0.1 data for one closed-loop
client, checks every output, and prints, as its last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones. The
line before it is the full run record (host, seed, failures with their
reasons, findings); a copy goes to .bench_build/perfbench/records/.

Workloads (see perfbench/README.md): olap, llm_pipeline, table_churn.

Everything the run writes stays in the checkout: graft writes some index
layouts and fixtures under /tmp, so the run executes in a private mount
namespace in which /tmp is a directory of the checkout. Where mount
namespaces are unavailable it runs without one and says so in the record.
"""
import argparse
import importlib.util
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("olap", "llm_pipeline", "table_churn")
JVM_TIMEOUT_S = 165
JVM_HEAP = "3g"
# What spark-submit would add on JDK 17 (as build.sbt does for `sbt run`).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
# table_churn's op types; "maintain" is compaction then vacuum
CHURN_OPS = ("commit", "merge", "mor_delete", "mor_update", "head_read",
             "travel_read", "maintain")
VERBS = CHURN_OPS[:-1] + ("compact", "vacuum")
FUNCTIONS = ("simhash64", "minhash_shingle32", "shingle_hashes", "token_stats",
             "gram_mass_stats", "vec_dot", "pq_adc", "cast_double_decimal")
INDEXES = ("pair_cache", "dup_label_index", "lsh_layout", "ivf_layout",
           "pq_codebook", "ivfpq_layout", "sq8_layout")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_dir():
    """The sf0.1 tables: $SPARK_GRAFT_SF_DIR, else the sf0.1 row of the
    repo's TESTDATA.md."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        doc = os.path.join(ROOT, "TESTDATA.md")
        m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", open(doc).read()) \
            if os.path.isfile(doc) else None
        d = m.group(1) if m else None
    if not d or not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail(f"no sf0.1 data (looked at {d!r}; set SPARK_GRAFT_SF_DIR)")
    return d.rstrip("/")


def cpus():
    return len(os.sched_getaffinity(0))


def cpu_times():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def host_probe():
    """Seconds one core takes for a fixed pure-Python loop: the host's
    speed at that moment, for reading a record next to others."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def steal_frac(a, b):
    """Share of CPU time the hypervisor gave to others between two
    samples: host contention the run itself cannot see."""
    return (b[0] - a[0]) / max(b[1] - a[1], 1)


def load_module(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile, and whether at least ten samples lie
    beyond it (the rule for reporting a tail percentile)."""
    if not xs:
        return 0.0, False
    s = sorted(xs)
    k = max(0, math.ceil(q * len(s)) - 1)
    return s[k], len(s) - 1 - k >= 10


def union_len(ivs):
    total, end = 0.0, None
    for a, b in sorted(ivs):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clip(ivs, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in ivs if min(b, hi) > max(a, lo)]


# ---------------------------------------------------------------- checking

def oracle_checks(checks, sf):
    """Each corpus op's output against its DuckDB oracle, with the repo's
    own compare normalization and type-family gate (tools/compare.py)."""
    import duckdb
    cmp = load_module("graft_compare", os.path.join(ROOT, "tools", "compare.py"))
    con = duckdb.connect()
    for f in sorted(os.listdir(sf)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{sf}/{f}')")
    out = []
    for c in checks:
        op, res = c["op"], {"op": c["op"]}
        if c.get("error"):
            res.update(ok=False, reason="failed", error=c["error"])
        elif not c.get("oracle"):
            res.update(ok=True, reason="no oracle (rows-only op)")
        else:
            try:
                got_rel = con.sql(f"SELECT * FROM read_parquet('{c['dir']}/*.parquet')")
                got = cmp.table(got_rel.fetchall(), got_rel.columns)
                want_rel = con.sql(c["oracle"])
                want = cmp.table(want_rel.fetchall(), want_rel.columns)
                tbad = cmp.type_mismatches(got_rel, want_rel)
                if sorted(got_rel.columns) != sorted(want_rel.columns):
                    res.update(ok=False, reason=f"columns {sorted(got_rel.columns)} "
                                                f"vs oracle {sorted(want_rel.columns)}")
                elif tbad:
                    res.update(ok=False, reason="type mismatch: " + "; ".join(tbad))
                elif got != want:
                    diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
                    res.update(ok=False, reason=f"{len(got)} vs {len(want)} rows; "
                                                f"first diffs {diff}")
                else:
                    res.update(ok=True, reason=f"{len(got)} rows match")
            except Exception as e:  # an oracle that cannot run is a finding too
                res.update(ok=False, reason=f"compare error: {type(e).__name__}: {e}")
        out.append(res)
    return out


# ---------------------------------------------------------------- metrics

def end_to_end(rec, samples, wrong):
    ok = [s for s in samples if s["ok"] and s["op"] not in wrong]
    lat = [s["wall_s"] for s in ok]
    busy = sum(s["wall_s"] for s in samples)
    p90, p90_ok = percentile(lat, 0.9)
    return {
        "setup_s": median([s["total_s"] for s in rec["setups"]]),
        "ops_per_s": len(ok) / busy if busy else 0.0,
        "latency_p50_s": median(lat),
        "heap_retained_mb": min(rec["retained_mb"]),
    }, {"samples": len(samples), "latency_p90_s": p90, "p90_supported": p90_ok,
        "fail_frac": (len(samples) - len(ok)) / len(samples) if samples else 0.0}


def churn_figures(rec, samples, wrong):
    """table_churn's per-op-type medians (ms, with sample counts) and its
    space amplification."""
    by = {}
    for s in samples:
        if s["ok"] and s["op"] not in wrong:
            by.setdefault(s["kind"], []).append(s["wall_s"] * 1e3)
    out = {f"{k}_p50_ms": median(by.get(k, [])) for k in CHURN_OPS}
    out.update({f"{k}_n": len(by.get(k, [])) for k in CHURN_OPS})
    src = rec.get("sources") or {}
    out["space_amp"] = src["root_bytes"] / src["live_bytes"] if src.get("live_bytes") else 0.0
    return out


def per_layer(rec, used, wrong):
    """Per-layer metrics of the traced passes among the kept ones, `used`
    (see README for the map to the end-to-end metrics they should move)."""
    tr = rec["trace"]
    kept = {s["pass"] for s in used}
    spans = [s for s in tr["spans"] if s["op"] and int(s["op"].split(":")[0]) in kept]
    ops = {s["op"]: s for s in spans if s["name"] == "op"}
    jobs_by, phases_by, spans_by = {}, {}, {}
    for j in tr["jobs"]:
        jobs_by.setdefault(j["op"], []).append(j)
    for p in tr["phases"]:
        phases_by.setdefault(p["op"], []).append(p)
    for s in spans:
        if s["name"] != "op":
            spans_by.setdefault(s["op"], []).append(s)
    stage_op = {st["id"]: st for st in tr["stages"]}
    kinds = {f'{s["pass"]}:{s["op"]}': s["kind"] for s in used if s["traced"]}
    n = max(len(ops), 1)
    acc = {k: 0.0 for k in (
        "build_s", "build_jobs", "analysis_ms", "optimizer_ms", "physical_ms",
        "actions", "jobs", "stages", "tasks", "job_busy_s", "driver_gap_s", "task_s",
        "shuffle_b", "spill_b", "gc_s", "operators", "plans", "exec", "sources",
        "unaccounted_s")}
    verb = {v: {"jobs": [], "gap_ms": []} for v in VERBS}
    busy_total = run_total = 0.0
    for op, o in ops.items():
        lo, hi = o["start"], o["end"]
        wall = hi - lo
        js = jobs_by.get(op, [])
        job_iv = clip([(j["start"], j["end"]) for j in js], lo, hi)
        busy = union_len(job_iv)
        ph = phases_by.get(op, [])
        phase_iv = clip([(p["start"], p["end"]) for p in ph], lo, hi)
        sp = spans_by.get(op, [])
        builds = [s for s in sp if s["name"] == "operators.build"]
        acc["build_s"] += sum(s["end"] - s["start"] for s in builds) / 1e3
        acc["build_jobs"] += sum(1 for j in js for b in builds if b["start"] <= j["start"] <= b["end"])
        for name, key in (("analysis", "analysis_ms"), ("optimization", "optimizer_ms"),
                          ("planning", "physical_ms")):
            acc[key] += sum(p["end"] - p["start"] for p in ph if p["name"] == name)
        acc["actions"] += len({p["event"] for p in ph if p["action"] != "build"})
        stg = [stage_op[i] for j in js for i in j["stages"] if i in stage_op]
        acc["jobs"] += len(js)
        acc["stages"] += len(stg)
        acc["tasks"] += sum(st["tasks"] for st in stg)
        acc["job_busy_s"] += busy / 1e3
        acc["driver_gap_s"] += (wall - busy) / 1e3
        acc["task_s"] += sum(st["run_ms"] for st in stg) / 1e3
        acc["shuffle_b"] += sum(st["shuffle_write"] for st in stg)
        acc["spill_b"] += sum(st["spill"] for st in stg)
        acc["gc_s"] += sum(st["gc_ms"] for st in stg) / 1e3
        busy_total += busy / 1e3
        run_total += sum(st["run_ms"] for st in stg) / 1e3
        # self time: planning phases and jobs are the leaves; each harness
        # span keeps what they do not cover; the op keeps the rest
        leaves = phase_iv + job_iv
        acc["plans"] += union_len(phase_iv) / 1e3
        acc["exec"] += (union_len(leaves) - union_len(phase_iv)) / 1e3
        for s in sp:
            own = (s["end"] - s["start"] - union_len(clip(leaves, s["start"], s["end"]))) / 1e3
            layer = s["name"].split(".")[0]
            acc[layer if layer in acc else "exec"] += own
        top = [(s["start"], s["end"]) for s in sp if s["parent"] == o["id"]]
        acc["unaccounted_s"] += (wall - union_len(top)) / 1e3
        kind = kinds.get(op)
        segs = ([(s["name"][len("sources."):], s["start"], s["end"]) for s in sp
                 if s["name"] in ("sources.compact", "sources.vacuum")]
                if kind == "maintain" else [(kind, lo, hi)] if kind in verb else [])
        for v, a, b in segs:
            verb[v]["jobs"].append(sum(1 for j in js if a <= j["start"] <= b))
            verb[v]["gap_ms"].append(b - a - union_len(clip(job_iv, a, b)))
    stages = [st for st in tr["stages"] if st["op"] in ops]
    skew = [max(st["task_ms"]) / max(statistics.median(st["task_ms"]), 1.0)
            for st in stages if st["tasks"] >= 2 and max(st["task_ms"]) >= 50]
    m = {
        "exec.rss_peak_mb": rec["rss_peak_mb"],
        "operators.build_s": acc["build_s"] / n,
        "operators.build_jobs": acc["build_jobs"] / n,
        "operators.self_s": acc["operators"] / n,
        "plans.analysis_ms": acc["analysis_ms"] / n,
        "plans.optimizer_ms": acc["optimizer_ms"] / n,
        "plans.physical_ms": acc["physical_ms"] / n,
        "plans.actions": acc["actions"] / n,
        "plans.self_s": acc["plans"] / n,
        "exec.jobs": acc["jobs"] / n,
        "exec.stages": acc["stages"] / n,
        "exec.tasks": acc["tasks"] / n,
        "exec.job_busy_s": acc["job_busy_s"] / n,
        "exec.driver_gap_s": acc["driver_gap_s"] / n,
        "exec.task_s": acc["task_s"] / n,
        "exec.core_util": run_total / (busy_total * cpus()) if busy_total else 0.0,
        "exec.shuffle_write_mb": acc["shuffle_b"] / n / 2**20,
        "exec.spill_mb": acc["spill_b"] / n / 2**20,
        "exec.gc_s": acc["gc_s"] / n,
        "exec.skew_max_over_median": max(skew) if skew else 1.0,
        "exec.task_failures": sum(st["failures"] for st in stages),
        "exec.self_s": acc["exec"] / n,
        "sources.self_s": acc["sources"] / n,
    }
    fn = rec.get("functions") or {}
    m.update({f"functions.{f}_ns_row": fn.get(f, 0.0) for f in FUNCTIONS})
    for v in VERBS:
        m[f"sources.{v}_jobs"] = statistics.mean(verb[v]["jobs"]) if verb[v]["jobs"] else 0.0
        m[f"sources.{v}_gap_ms"] = statistics.mean(verb[v]["gap_ms"]) if verb[v]["gap_ms"] else 0.0
    untraced = [s for s in used if not s["traced"]]
    churn = churn_figures(rec, untraced, wrong) if rec["workload"] == "table_churn" else {}
    for k in CHURN_OPS:
        m[f"sources.{k}_p50_ms"] = churn.get(f"{k}_p50_ms", 0.0)
    src = rec.get("sources") or {}
    m["sources.space_amp"] = churn.get("space_amp", 0.0)
    for k in ("meta_files", "versions", "data_files", "delete_files", "skip_frac"):
        m[f"sources.{k}"] = src.get(k, 0)
    m["sources.bytes_written_per_row"] = (
        src["bytes_written"] / src["rows_written"] if src.get("rows_written") else 0.0)
    m["sources.retries"] = sum(1 for s in rec["samples"] if s.get("error") and
                               "Conflict" in s["error"]["class"])
    parts = [s["parts"] for s in rec["setups"]]
    m["setup.session_s"] = median([p["session"] for p in parts])
    m["setup.tables_s"] = median([p.get("tables", 0.0) for p in parts])
    m["setup.base_commit_s"] = median([p.get("base_commit", 0.0) for p in parts])
    m["setup.warmup_s"] = rec["warmup_s"]
    for i in INDEXES:  # only llm_pipeline builds indexes
        if i in parts[0]:
            m[f"setup.{i}_build_s"] = median([p[i] for p in parts])
    traced = [s for s in used if s["traced"]]
    e_tr, _ = end_to_end(rec, traced, wrong)
    e_un, _ = end_to_end(rec, untraced, wrong)
    m["trace.overhead_ops_per_s"] = e_tr["ops_per_s"] - e_un["ops_per_s"]
    m["trace.overhead_latency_p50_s"] = e_tr["latency_p50_s"] - e_un["latency_p50_s"]
    m["trace.unaccounted_s"] = acc["unaccounted_s"] / n
    return m


# ---------------------------------------------------------------- the run

def isolated(argv, tmp):
    """Re-runs this script with /tmp bound to `tmp` in a private mount
    namespace; None when the host does not allow it."""
    ns = ["unshare", "-m", "--propagation", "private", "sh", "-c"]
    bind = 'mount --bind "$0" /tmp'
    try:
        if subprocess.run(ns + [bind, tmp], capture_output=True, timeout=30).returncode:
            return None
    except (OSError, subprocess.TimeoutExpired):
        return None
    cmd = ns + [bind + ' && exec "$@"', tmp, sys.executable,
                os.path.abspath(__file__)] + argv + ["--isolated", "1"]
    return wait(subprocess.Popen(cmd), None)


def wait(p, timeout):
    """Waits for child `p`; if this process is stopped first (SIGTERM,
    Ctrl-C, timeout), stops the child and waits for it to end."""
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        p.terminate()
        try:
            p.wait(timeout=20)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
        raise


def run_jvm(args, classes, jars, sf, run_dir):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    cmd = (["java", f"-Xmx{JVM_HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
              "graft.perfbench.Harness", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--sf", sf, "--out", run_dir])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = wait(subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env),
                      JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    path = os.path.join(run_dir, "record.json")
    if rc != 0 or not os.path.isfile(path):
        tail = open(log, errors="replace").read()[-4000:]
        fail(f"harness exited {rc}; log tail:\n{tail}")
    return json.load(open(path))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--isolated", type=int, default=0, help=argparse.SUPPRESS)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "compare.py")):
        fail(f"{ROOT} is not a graft checkout (no src/main/scala or tools/compare.py)")
    sf = data_dir()
    build = load_module("perfbench_build", os.path.join(HERE, "build.py"))
    os.makedirs(OUT, exist_ok=True)
    classes, jars = build.build()

    if not args.isolated:
        tmp = os.path.join(OUT, "tmp")
        os.makedirs(tmp, exist_ok=True)
        rc = isolated(sys.argv[1:], tmp)
        if rc is not None:
            sys.exit(rc)
        print("perfbench: no private mount namespace; graft's /tmp writes "
              "go to the host /tmp", file=sys.stderr)

    load0, cpu0, probe0 = os.getloadavg(), cpu_times(), host_probe()
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    rec = run_jvm(args, classes, jars, sf, run_dir)
    checks = rec["checks"] if args.workload == "table_churn" else oracle_checks(rec["checks"], sf)
    wrong = {c["op"] for c in checks if not c["ok"]}
    wall_s = time.time() - t0
    # passes run again under hypervisor steal count as attempted, not measured
    kept = {p["pass"] for p in rec["passes"] if p["kept"]}
    used = [s for s in rec["samples"] if s["pass"] in kept]
    samples = [s for s in used if not s["traced"]]
    measured = rec["samples"]
    failed_ops = [{"op": s["op"], "pass": s["pass"], "error": s["error"]}
                  for s in measured if not s["ok"]]
    n_failed = sum(1 for s in measured if not s["ok"] or s["op"] in wrong)
    e2e, extra = end_to_end(rec, samples, wrong)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus(), "sf_dir": sf,
        "loop": "closed", "clients": 1,
        "tmp_isolated": bool(args.isolated),
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "cpu_steal_frac": steal_frac(cpu0, cpu_times()),
        "host_probe_s": [probe0, host_probe()],
        "wall_s": wall_s, "warmup_s": rec["warmup_s"],
        "setups_s": [s["total_s"] for s in rec["setups"]], "passes": len(kept),
        "repeated_passes": [p for p in rec["passes"] if not p["kept"]],
        "attempted": len(measured), "failed": n_failed,
        "failures": failed_ops,
        "wrong": [c for c in checks if not c["ok"]],
        "checked": len(checks),
        **extra, **e2e,
    }
    if args.workload == "table_churn":
        record.update(churn_figures(rec, samples, wrong))
    metrics = per_layer(rec, used, wrong) if args.trace else e2e
    keep = os.path.join(OUT, "records")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"record": record, "metrics": metrics, "checks": checks,
                   "samples": rec["samples"], "retained_mb": rec["retained_mb"],
                   "trace": rec.get("trace")}, fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": n_failed == 0 and not [c for c in checks if not c["ok"]],
        "attempted": len(measured), "failed": n_failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}))


def unit(name):
    """A metric's unit, from its name's suffix."""
    for suffix, u in (("ops_per_s", "ops/s"), ("_ns_row", "ns/row"), ("_ms", "ms"),
                      ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"), ("_amp", "ratio"),
                      ("_per_row", "B/row"), ("core_util", "ratio"),
                      ("skew_max_over_median", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


if __name__ == "__main__":
    main()
