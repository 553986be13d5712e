#!/usr/bin/env python3
"""Per-op breakdown of a perfbench traced record.

usage: python3 tools/trace_ops.py RECORD.json
       python3 tools/trace_ops.py BEFORE.json AFTER.json
       python3 tools/trace_ops.py --jobs RECORD.json

RECORD.json is a run record written by `perfbench/run.py --trace 1`
(`.bench_build/perfbench/records/<workload>-s<seed>-t1.json`). The tool
reads only the records it is given. With one record it prints one row
per traced op execution:

  wall_ms     the op's span
  untraced_ms the same op's wall in the untraced passes (mean), if any;
              table_churn ops match on their verb, not their cycle
  jobs        Spark jobs started inside the op
  busy_ms     union of those jobs' intervals
  gap_ms      wall minus busy: driver time between and around jobs
  plan_ms     Catalyst phases inside the op (parsing, analysis,
              optimization, planning), summed per phase name
  gaps_ms     the driver gap before each job, in start order

A last row gives the mean over all ops.

With two records (compare mode: say a parent commit's and a change's
run of the same workload and seed) it prints one row per op with both
runs side by side: jobs, wall_ms and untraced_ms before and after, and
the change in jobs. A last row gives the totals over the traced pass
(for table_churn, one cycle).

With --jobs it prints, for each op, one row per Spark job the op
started, in start order:

  job         the job id
  wall_ms     the job's span
  gap_ms      the driver gap before it (from the op's start or the end
              of the jobs before it)
  stages      the job's stage ids
  tasks       each stage's task count, in the same order (0: the stage
              was skipped, its output reused)
  shuffle_b   bytes the job's stages wrote to shuffle
"""
import json
import sys

PHASES = ("parsing", "analysis", "optimization", "planning")


def base(op):
    """An op's name without its `@cycle` suffix (table_churn numbers its
    verb calls per cycle), so a traced op meets its untraced runs."""
    return op.split("@", 1)[0]


def job_gaps(lo, jobs):
    """Driver gap before each job, and the union length of the jobs."""
    cursor, gaps, busy = lo, [], 0.0
    for j in sorted(jobs, key=lambda j: j["start"]):
        start, end = j["start"], j["end"]
        gaps.append(max(0.0, start - cursor))
        if end > cursor:
            busy += end - max(start, cursor)
            cursor = end
    return gaps, busy


def job_rows(rec):
    """(op name, op wall ms, one dict per job of the op) per traced op."""
    tr = rec["trace"]
    stages = {s["id"]: s for s in tr["stages"]}
    out = []
    for o in sorted((s for s in tr["spans"] if s["name"] == "op"), key=lambda s: s["start"]):
        lo, hi = o["start"], o["end"]
        js = sorted((j for j in tr["jobs"] if j["op"] == o["op"] and lo <= j["start"] <= hi),
                    key=lambda j: j["start"])
        gaps, _ = job_gaps(lo, js)
        out.append((o["op"], hi - lo, [{
            "job": j["id"],
            "wall_ms": j["end"] - j["start"],
            "gap_ms": g,
            "stages": j["stages"],
            "tasks": [stages[s]["tasks"] if s in stages else 0 for s in j["stages"]],
            "shuffle_b": sum(stages[s]["shuffle_write"] for s in j["stages"] if s in stages),
        } for j, g in zip(js, gaps)]))
    return out


def jobs_table(ops):
    """Text lines: per op a heading, then its jobs as aligned rows."""
    lines = []
    for op, wall, js in ops:
        lines.append(f"{op}  wall_ms={wall:.0f}  jobs={len(js)}")
        cells = [["  job", "wall_ms", "gap_ms", "stages", "tasks", "shuffle_b"]]
        for j in js:
            cells.append([f"  {j['job']}", fmt(j["wall_ms"]), fmt(j["gap_ms"]),
                          ",".join(str(s) for s in j["stages"]) or "-",
                          ",".join(str(t) for t in j["tasks"]) or "-", str(j["shuffle_b"])])
        widths = [max(len(c[i]) for c in cells) for i in range(len(cells[0]))]
        lines += ["  ".join(c.ljust(w) for c, w in zip(l, widths)).rstrip() for l in cells]
    return lines


def rows(rec):
    tr = rec["trace"]
    untraced = {}
    for s in rec.get("samples", []):
        if not s["traced"] and s["ok"]:
            untraced.setdefault(base(s["op"]), []).append(s["wall_s"] * 1e3)
    jobs_by, phases_by = {}, {}
    for j in tr["jobs"]:
        jobs_by.setdefault(j["op"], []).append(j)
    for p in tr["phases"]:
        phases_by.setdefault(p["op"], []).append(p)
    out = []
    for o in sorted((s for s in tr["spans"] if s["name"] == "op"), key=lambda s: s["start"]):
        lo, hi = o["start"], o["end"]
        js = [j for j in jobs_by.get(o["op"], []) if lo <= j["start"] <= hi]
        gaps, busy = job_gaps(lo, js)
        ph = phases_by.get(o["op"], [])
        un = untraced.get(base(o["op"].split(":", 1)[1]), [])
        out.append({
            "op": o["op"],
            "wall_ms": hi - lo,
            "untraced_ms": sum(un) / len(un) if un else None,
            "jobs": len(js),
            "busy_ms": busy,
            "gap_ms": hi - lo - busy,
            "plan_ms": {n: sum(p["end"] - p["start"] for p in ph if p["name"] == n) for n in PHASES},
            "gaps_ms": gaps,
        })
    return out


def fmt(x):
    return "-" if x is None else f"{x:.0f}"


def table(rs):
    """The rows as text lines, one per op, then the mean row."""
    lines = [["op", "wall_ms", "untraced_ms", "jobs", "busy_ms", "gap_ms"] +
             [f"{n}_ms" for n in PHASES] + ["gaps_ms"]]
    for r in rs:
        lines.append([r["op"], fmt(r["wall_ms"]), fmt(r["untraced_ms"]), str(r["jobs"]),
                      fmt(r["busy_ms"]), fmt(r["gap_ms"])] +
                     [fmt(r["plan_ms"][n]) for n in PHASES] +
                     [",".join(fmt(g) for g in r["gaps_ms"])])
    if rs:
        n = len(rs)
        un = [r["untraced_ms"] for r in rs if r["untraced_ms"] is not None]
        lines.append(["mean", fmt(sum(r["wall_ms"] for r in rs) / n),
                      fmt(sum(un) / len(un) if un else None),
                      f"{sum(r['jobs'] for r in rs) / n:.1f}",
                      fmt(sum(r["busy_ms"] for r in rs) / n),
                      fmt(sum(r["gap_ms"] for r in rs) / n)] +
                     [fmt(sum(r["plan_ms"][p] for r in rs) / n) for p in PHASES] + [""])
    widths = [max(len(l[i]) for l in lines) for i in range(len(lines[0]))]
    return ["  ".join(c.ljust(w) for c, w in zip(l, widths)).rstrip() for l in lines]


def compare(before, after):
    """Text lines pairing two records' ops by name, then the totals."""
    a = {r["op"]: r for r in before}
    b = {r["op"]: r for r in after}
    names = [r["op"] for r in before] + [r["op"] for r in after if r["op"] not in a]
    lines = [["op", "jobs_before", "jobs_after", "jobs_delta", "wall_before_ms",
              "wall_after_ms", "untraced_before_ms", "untraced_after_ms"]]

    def cell(r, k):
        return "-" if r is None else (str(r[k]) if k == "jobs" else fmt(r[k]))
    for n in names:
        ra, rb = a.get(n), b.get(n)
        delta = "-" if ra is None or rb is None else f"{rb['jobs'] - ra['jobs']:+d}"
        lines.append([n, cell(ra, "jobs"), cell(rb, "jobs"), delta, cell(ra, "wall_ms"),
                      cell(rb, "wall_ms"), cell(ra, "untraced_ms"), cell(rb, "untraced_ms")])

    def total(rs, k):
        vs = [r[k] for r in rs if r[k] is not None]
        return sum(vs) if vs else None
    ja, jb = total(before, "jobs"), total(after, "jobs")
    lines.append(["total", str(ja), str(jb), f"{jb - ja:+d}",
                  fmt(total(before, "wall_ms")), fmt(total(after, "wall_ms")),
                  fmt(total(before, "untraced_ms")), fmt(total(after, "untraced_ms"))])
    widths = [max(len(l[i]) for l in lines) for i in range(len(lines[0]))]
    return ["  ".join(c.ljust(w) for c, w in zip(l, widths)).rstrip() for l in lines]


def main(argv):
    if len(argv) == 3 and argv[1] == "--jobs":
        with open(argv[2]) as f:
            print("\n".join(jobs_table(job_rows(json.load(f)))))
        return
    if len(argv) not in (2, 3) or "--jobs" in argv:
        sys.exit(__doc__)
    recs = []
    for path in argv[1:]:
        with open(path) as f:
            recs.append(rows(json.load(f)))
    print("\n".join(table(recs[0]) if len(recs) == 1 else compare(*recs)))


if __name__ == "__main__":
    main(sys.argv)
