"""Per-op Spark job table from a traced perfbench run.

    python3 scripts/spans_jobs.py [workload]        # default: ingest
    python3 scripts/spans_jobs.py --spans <path>    # any spans.json
    python3 scripts/spans_jobs.py --against <parent spans.json>  # parent → change

Reads `.bench_build/work/<workload>/spans.json`, which
`python3 perfbench/run.py --workload <w> --trace 1` leaves behind, and
prints one row per op name: how often the op ran, Spark jobs per run,
the jobs' call sites, job time and the driver time outside any job (both
in ms per run), then the op's slowest stage: its wall ms, task count and
executor ms. A CPU-heavy stage that runs on fewer tasks than the session
has cores (AQE coalesced its input to one partition) shows there as
executor ms close to wall ms on one task. Times are the spans' self times, which add up to the op's
wall time: job time is the self time of the op's job and stage spans,
non-job time that of its op, build and action spans. A job whose name is
a streaming batch description (no "at <file>:<line>") is listed under the
call site of its first stage. Jobs outside every op (the benchmark's
output checks) are left out.

With `--against`, the spans read first are the change and the `--against`
file is the parent: each row prints parent → change for jobs, job_ms and
nonjob_ms per run, over the ops of both runs, plus the per-unit totals.
"""
import argparse
import json
import sys
from collections import Counter, OrderedDict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def call_site(job, stages):
    if " at " in job["name"]:
        return job["name"].strip()
    first = min(stages, key=lambda s: s["id"], default=None)
    return f"{first['name'].strip()} (stream)" if first else job["name"].strip()


def table(spans):
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    rows = OrderedDict()
    for op in (s for s in spans if s["kind"] == "op"):
        r = rows.setdefault(op["name"], {"runs": 0, "jobs": 0, "sites": Counter(),
                                         "job_ms": 0.0, "nonjob_ms": 0.0, "slowest": None})
        r["runs"] += 1
        for s in spans:
            if s["op"] != op["id"]:
                continue
            if s["kind"] in ("job", "stage"):
                r["job_ms"] += s["self_ms"]
            else:
                r["nonjob_ms"] += s["self_ms"]
            if s["kind"] == "stage":
                a = s.get("attrs", {})
                stage = (s["self_ms"], int(a.get("sched.tasks", 0)), 1e3 * a.get("exec.run_s", 0.0))
                r["slowest"] = max(r["slowest"] or stage, stage)
            if s["kind"] == "job":
                r["jobs"] += 1
                r["sites"][call_site(s, by_parent.get(s["id"], []))] += 1
    return rows


def per_run(rows):
    """Jobs, job_ms and nonjob_ms per run of each op, plus their per-unit sums."""
    out = OrderedDict((name, {k: r[k] / r["runs"] for k in ("jobs", "job_ms", "nonjob_ms")})
                      for name, r in rows.items())
    out["per unit"] = {k: sum(v[k] for v in out.values()) for k in ("jobs", "job_ms", "nonjob_ms")}
    return out


def print_table(rows):
    print(f"{'op':<18} {'runs':>4} {'jobs':>6} {'job_ms':>9} {'nonjob_ms':>10}  call sites (jobs per run)")
    for name, r in rows.items():
        n = r["runs"]
        sites = ", ".join(f"{k} ×{v / n:g}" for k, v in r["sites"].items())
        print(f"{name:<18} {n:>4} {r['jobs'] / n:>6g} {r['job_ms'] / n:>9.0f} {r['nonjob_ms'] / n:>10.0f}  {sites}")
        if r["slowest"]:
            ms, tasks, exec_ms = r["slowest"]
            print(f"{'':<18} slowest stage {ms:.0f} ms: {tasks} task{'s' * (tasks != 1)}, {exec_ms:.0f} executor ms")
    t = per_run(rows)["per unit"]
    print(f"{'per unit':<18} {'':>4} {t['jobs']:>6g} {t['job_ms']:>9.0f} {t['nonjob_ms']:>10.0f}")


def print_diff(parent, change):
    p, c = per_run(parent), per_run(change)
    zero = {"jobs": 0, "job_ms": 0.0, "nonjob_ms": 0.0}
    names = [n for n in p if n != "per unit"] + [n for n in c if n not in p] + ["per unit"]
    print(f"{'op':<18} {'jobs':>11} {'job_ms':>13} {'nonjob_ms':>13}   (parent → change, per run)")
    for name in names:
        a, b = p.get(name, zero), c.get(name, zero)
        print(f"{name:<18} {a['jobs']:>4g} → {b['jobs']:<4g} {a['job_ms']:>5.0f} → {b['job_ms']:<5.0f} "
              f"{a['nonjob_ms']:>5.0f} → {b['nonjob_ms']:.0f}")


def load(path, workload):
    if not path.exists():
        sys.exit(f"{path} not found; run perfbench/run.py --workload {workload} --trace 1 first")
    return table(json.loads(path.read_text()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", nargs="?", default="ingest")
    ap.add_argument("--spans", help="spans.json path (default: the workload's)")
    ap.add_argument("--against", help="the parent's spans.json: print parent → change")
    a = ap.parse_args()
    path = Path(a.spans) if a.spans else ROOT / ".bench_build" / "work" / a.workload / "spans.json"
    rows = load(path, a.workload)
    if a.against:
        print_diff(load(Path(a.against), a.workload), rows)
    else:
        print_table(rows)


if __name__ == "__main__":
    main()
