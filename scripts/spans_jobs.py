"""Per-op Spark job table from a traced perfbench run.

    python3 scripts/spans_jobs.py [workload]        # default: ingest
    python3 scripts/spans_jobs.py --spans <path>    # any spans.json

Reads `.bench_build/work/<workload>/spans.json`, which
`python3 perfbench/run.py --workload <w> --trace 1` leaves behind, and
prints one row per op name: how often the op ran, Spark jobs per run,
the jobs' call sites, job time and the driver time outside any job (both
in ms per run). Times are the spans' self times, which add up to the op's
wall time: job time is the self time of the op's job and stage spans,
non-job time that of its op, build and action spans. A job whose name is
a streaming batch description (no "at <file>:<line>") is listed under the
call site of its first stage. Jobs outside every op (the benchmark's
output checks) are left out.
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
                                         "job_ms": 0.0, "nonjob_ms": 0.0})
        r["runs"] += 1
        for s in spans:
            if s["op"] != op["id"]:
                continue
            if s["kind"] in ("job", "stage"):
                r["job_ms"] += s["self_ms"]
            else:
                r["nonjob_ms"] += s["self_ms"]
            if s["kind"] == "job":
                r["jobs"] += 1
                r["sites"][call_site(s, by_parent.get(s["id"], []))] += 1
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", nargs="?", default="ingest")
    ap.add_argument("--spans", help="spans.json path (default: the workload's)")
    a = ap.parse_args()
    path = Path(a.spans) if a.spans else ROOT / ".bench_build" / "work" / a.workload / "spans.json"
    if not path.exists():
        sys.exit(f"{path} not found; run perfbench/run.py --workload {a.workload} --trace 1 first")
    rows = table(json.loads(path.read_text()))
    print(f"{'op':<18} {'runs':>4} {'jobs':>6} {'job_ms':>9} {'nonjob_ms':>10}  call sites (jobs per run)")
    tot = Counter()
    for name, r in rows.items():
        n = r["runs"]
        sites = ", ".join(f"{k} ×{v / n:g}" for k, v in r["sites"].items())
        print(f"{name:<18} {n:>4} {r['jobs'] / n:>6g} {r['job_ms'] / n:>9.0f} {r['nonjob_ms'] / n:>10.0f}  {sites}")
        for k in ("jobs", "job_ms", "nonjob_ms"):
            tot[k] += r[k] / n
    print(f"{'per unit':<18} {'':>4} {tot['jobs']:>6g} {tot['job_ms']:>9.0f} {tot['nonjob_ms']:>10.0f}")


if __name__ == "__main__":
    main()
