"""Records perfbench/expected.tsv: the row count and content digest of
every dashboard and curation op on the generated base tables, from the
checkout it runs in. Each op runs twice (warm-up and timed unit) and the
two digests must agree. Dashboard results are also compared, once, with
DuckDB running the engine's oracle SQL (SparkEntry.oracleSql) on the
same parquet tables.

Usage: python3 perfbench/run.py --record
"""
import math
import shutil
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(cols), sorted(out)


def oracle_check(dump, base):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
    bad = []
    for sql_file in sorted(dump.glob("*.sql")):
        q = sql_file.stem
        got = con.execute(f"SELECT * FROM '{dump / q}/*.parquet'")
        gcols = [d[0] for d in got.description]
        g = canon(got.fetchall(), gcols)
        want = con.execute(sql_file.read_text())
        w = canon(want.fetchall(), [d[0] for d in want.description])
        status = "match" if g == w else "MISMATCH"
        print(f"[oracle] {q}: {len(g[1])} rows, {status}")
        if g != w:
            bad.append(q)
    return bad


def main(run):
    base = run.base_tables(run.SF)
    out = run.BUILD / "record"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    lines = set()
    for w in ("dashboard", "curation"):
        rec = out / f"{w}.tsv"
        extra = ["--record", str(rec)] + (["--dump", str(out / "dump")] if w == "dashboard" else [])
        run.run_jvm(w, 1, 0, False, base, extra=extra)
        lines |= set(rec.read_text().splitlines())
    by_op = {}
    for line in lines:
        w, q, rows, h = line.split("\t")
        by_op.setdefault((w, q), set()).add((rows, h))
    unstable = [k for k, v in by_op.items() if len(v) != 1]
    if unstable:
        raise RuntimeError(f"ops with differing digests across units: {unstable}")
    bad = oracle_check(out / "dump", base)
    if bad:
        raise RuntimeError(f"dashboard results differ from the DuckDB oracle: {bad}")
    Path(run.HERE / "expected.tsv").write_text("".join(sorted(l + "\n" for l in lines)))
    print(f"recorded {len(by_op)} ops into {run.HERE / 'expected.tsv'}")
