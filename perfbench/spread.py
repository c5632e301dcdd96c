"""Runs one workload with several seeds and prints, per end-to-end metric,
the median and the spread (distance between the first and third
quartile, as a share of the median) next to the metric's bound.

Usage: python3 perfbench/spread.py <workload> <first-seed> <runs> [--out FILE] [--floor]

--floor records the medians and quartiles, stamped with the machine and
software they were measured on, under the workload in perfbench/FLOOR.json.
"""
import json
import platform
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.dont_write_bytecode = True


def stamp():
    mem = re.search(r"MemTotal:\s+(\d+) kB", Path("/proc/meminfo").read_text())
    boot = re.search(r"btime (\d+)", Path("/proc/stat").read_text())
    jdk = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    sys.path.insert(0, str(ROOT / "perfbench"))
    import build
    import run
    spark = sorted(p.name for p in build.spark_jars().glob("spark-core_*.jar"))
    return {"nproc": run.cores(), "mem_total_kb": int(mem.group(1)) if mem else None,
            "boot_epoch": int(boot.group(1)) if boot else None, "jdk": jdk[0] if jdk else None,
            "spark": spark[0] if spark else None, "heap": run.HEAP, "machine": platform.machine(),
            "loadavg": Path("/proc/loadavg").read_text().split()[:3], "cpu_jiffies": cpu_jiffies()}


def cpu_jiffies():
    """The aggregate `cpu` line of /proc/stat: user nice system idle iowait irq softirq steal ..."""
    return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]


def steal_share(before, after):
    """Share of the machine's CPU time the hypervisor gave to other guests between two stamps."""
    d = [b - a for a, b in zip(before["cpu_jiffies"], after["cpu_jiffies"])]
    return d[7] / max(1, sum(d))


def main():
    workload, first, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    out = sys.argv[sys.argv.index("--out") + 1] if "--out" in sys.argv else None
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values, results = {}, []
    before = stamp()
    for seed in range(first, first + runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, str(ROOT / "perfbench/run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["seed"], res["run_s"] = seed, round(time.time() - t0, 1)
        results.append(res)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {res['run_s']} s correct={res['correct']} " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    summary = {}
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                              "unit": m["unit"], "values": v}
        print(f"{workload:9s} {m['name']:18s} median {med:10.4g} "
              f"spread {(q3 - q1) / med:.3f} (bound {m['bound']})")
    after = stamp()
    steal = steal_share(before, after)
    print(f"{workload:9s} cpu steal over the runs {steal:.1%}")
    if "--floor" in sys.argv:
        f = ROOT / "perfbench" / "FLOOR.json"
        floor = json.loads(f.read_text()) if f.exists() else {}
        floor[workload] = {"seeds": [first, first + runs - 1], "run_seconds": spec["run_seconds"],
                           "metrics": summary, "machine_before": before, "machine_after": after,
                           "cpu_steal_share": steal, "all_correct": all(r["correct"] for r in results)}
        f.write_text(json.dumps(floor, indent=1) + "\n")
    if out:
        Path(out).write_text(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
