"""Benchmark command: runs one workload of the engine and prints its metrics.

    python3 perfbench/run.py --workload <dashboard|curation|ingest> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark (perfbench/build.py) and generates the fixed base tables; later
runs reuse both from `.bench_build/`. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics of BENCHMARK.json for --trace 0 and its per-layer
metrics for --trace 1. Other modes (not used by timed runs):

    --selftest          harness self-test at sf0.001 (perfbench/README.md)
    --record            re-record perfbench/expected.tsv from this checkout
                        and cross-check dashboard results against the
                        DuckDB oracle SQL
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # the benchmark's directory stays as checked out

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("dashboard", "curation", "ingest")
# Workload parameters, recorded here and in README.md.
SF = 0.01                 # base table size (TPC-H-like scale factor)
INGEST_SF = 0.1           # ingest lands days of the base tables at this size
CURATION_COPIES = 4       # curation runs over the 4x replicated corpus
TRIGGER_MS = 100          # ingest streaming trigger interval
INGEST_CYCLES = 8         # generated ingest cycles per seed (a traced run uses 5)
HEAP = "3g"
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def base_tables(sf):
    out = BUILD / "data" / f"base-sf{sf}"
    marker = out / "_GEN_OK"
    stamp = (HERE / "gen.py").read_text()
    if not (marker.exists() and marker.read_text() == stamp):
        import gen
        shutil.rmtree(out, ignore_errors=True)
        gen.tables(str(out), sf)
        marker.write_text(stamp)
    return out


def ingest_batches(base, seed):
    out = BUILD / "data" / f"ingest-{base.name}-seed{seed}"
    marker = out / "_GEN_OK"
    stamp = (HERE / "gen.py").read_text()
    if not (marker.exists() and marker.read_text() == stamp):
        import gen
        shutil.rmtree(out, ignore_errors=True)
        gen.landing(str(base), str(out), seed, INGEST_CYCLES)
        marker.write_text(stamp)
    return out


def metric_names(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(workload, seed, seconds, trace, base, extra=(), sf_tag="", copies=CURATION_COPIES,
            expected=HERE / "expected.tsv", ingest_sf=INGEST_SF):
    """Runs perfbench.Main; returns (report lines, result dict). Raises on failure."""
    classes, jars = build()
    work = BUILD / "work" / f"{workload}{sf_tag}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores()), "--work", str(work),
            "--data", str(base), "--copies", str(copies), "--trigger-ms", str(TRIGGER_MS),
            "--expected", str(expected), "--trace-out", str(work / "spans.json")]
    if workload == "ingest":
        args += ["--batches", str(ingest_batches(base_tables(ingest_sf), seed))]
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={work / 'spark-local'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main"] + args + list(extra))
    log = work / "jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"{workload}: benchmark process timed out after {JVM_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        tail = log.read_text()[-3000:]
        raise RuntimeError(f"{workload}: benchmark process failed (exit {proc.returncode})\n{tail}")
    return lines[:-1], json.loads(lines[-1])


def build():
    from build import build as compile_all
    return compile_all()


def bench(a):
    base = base_tables(SF)
    report, res = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1, base)
    names = metric_names(a.trace == 1)
    missing = [n for n in names if res["metrics"].get(n, {}).get("value") is None]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    for line in report:
        print(line)
    res["metrics"] = {n: res["metrics"][n] for n in names}
    print(json.dumps(res))


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--record", action="store_true")
    a = p.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources at {ROOT / 'src/main/scala'}: run from the root of a checkout")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("no BENCHMARK.json at the root of the checkout")
    try:
        if a.selftest:
            import selftest
            selftest.main(sys.modules[__name__])
        elif a.record:
            import record
            record.main(sys.modules[__name__])
        elif a.workload:
            bench(a)
        else:
            fail("--workload is required")
    except RuntimeError as e:
        fail(str(e), 1)


if __name__ == "__main__":
    main()
