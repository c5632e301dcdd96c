"""Harness self-test at sf0.001 (1x corpus): python3 perfbench/run.py --selftest

Checks that every end-to-end and per-layer metric of BENCHMARK.json
prints with its unit, on every workload; that an injected failing op and
a corrupted expected digest each raise error_rate; and that no job or
stage span sticks out of its parent span by more than the clock slack of
Spark's millisecond event times (Trace.ClockSlackMs, 2 ms per span). Self
times charge each instant of an op to the deepest span open then, so they
add up to the op's wall time exactly when nothing has to be clipped.
"""
import json

# ingest lands days of the sf0.01 tables: at sf0.001 some days sell nothing
SELFTEST_INGEST_SF = 0.01


def report(lines):
    """[perfbench] <workload> <metric> <value> <unit> -> {metric: (value, unit)}"""
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) == 5 and parts[0] == "[perfbench]":
            out[parts[2]] = (float(parts[3]) if parts[3] != "null" else None, parts[4])
    return out


def main(run):
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    base = run.base_tables(0.001)
    expected = run.BUILD / "selftest-expected.tsv"
    rec = []
    for w in ("dashboard", "curation"):
        f = run.BUILD / f"selftest-{w}.tsv"
        run.run_jvm(w, 1, 0, False, base, extra=["--record", str(f)], sf_tag="-selftest", copies=1)
        rec += f.read_text().splitlines()
    expected.write_text("".join(sorted(set(l + "\n" for l in rec))))
    problems = []

    def jvm(w, trace, extra=()):
        return run.run_jvm(w, 7, 1, trace, base, extra=extra, sf_tag="-selftest", copies=1,
                           expected=expected, ingest_sf=SELFTEST_INGEST_SF)

    for w in run.WORKLOADS:
        for trace in (False, True):
            lines, res = jvm(w, trace)
            rep = report(lines)
            want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            for name in want:
                got = res["metrics"].get(name)
                if got is None or got.get("value") is None or got.get("unit") != units[name]:
                    problems.append(f"{w} trace={trace}: metric {name} missing or without unit {units[name]}: {got}")
                if name not in rep or rep[name][1] != units[name]:
                    problems.append(f"{w} trace={trace}: report line for {name} missing")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: {res['failed']} of {res['attempted']} ops failed")
            if rep.get("error_rate", (None,))[0] != 0:
                problems.append(f"{w} trace={trace}: error_rate {rep.get('error_rate')}")
            if trace:
                clipped = rep.get("trace.clipped_ms", (None,))[0]
                if clipped is None or clipped > 0:
                    problems.append(f"{w}: {clipped} ms of job/stage time lies outside its parent span")
            print(f"[selftest] {w} trace={int(trace)}: {len(want)} metrics, correct={res['correct']}")

    for w, flag, op in (("dashboard", "--inject", "web_engagement"),
                        ("dashboard", "--corrupt", "zorder_keys"),
                        ("curation", "--corrupt", "llm_dedup_exact"),
                        ("ingest", "--inject", "pos_batch")):
        lines, res = jvm(w, False, extra=[flag, op])
        rate = report(lines).get("error_rate", (0,))[0]
        ok = res["failed"] > 0 and not res["correct"] and rate and rate > 0
        print(f"[selftest] {w} {flag} {op}: failed={res['failed']}/{res['attempted']} error_rate={rate}")
        if not ok:
            problems.append(f"{w} {flag} {op}: error_rate did not rise ({rate})")

    for p in problems:
        print(f"[selftest] FAIL {p}")
    if problems:
        raise RuntimeError(f"self-test: {len(problems)} problem(s)")
    print("[selftest] all checks passed")
