"""Seeded input generator for the benchmark.

`tables(out_dir, sf)` writes the ten synthetic tables the engine's
registered queries read (region nation customer supplier part orders
lineitem events documents embeddings), with the same column names,
types and value ranges as the engine's test tables. The content is a
pure function of `sf` and a fixed data seed, so expected per-op
results can be stored with the benchmark.

`landing(base_dir, out_dir, seed, cycles)` writes, per ingest cycle,
the landing files of the four reference pipelines (POS daily CSV,
inventory JSONL stock snapshots, WEB and CRM JSONL) holding one day of
the base tables, with about 2% of records and files made invalid, plus
the invariants the ingest checks compare against.
"""
import json
import os
from datetime import datetime, timezone
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
WORDS = ("a the data query table row column join key value hash sort merge "
         "batch stream window group order line part customer agg filter scan "
         "spark vector big small fast slow").split()
LANGS = ["en"] * 3 + ["de", "fr", "es", "zh"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "new", "large"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _us(y, m, d):
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp() * 1_000_000)


def _ts(values_us):
    return pa.array(np.asarray(values_us, dtype=np.int64), type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng, n_words):
    return " ".join(rng.choice(WORDS, n_words))


def tables(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 200)

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": REGIONS})
    _write(out_dir, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    day_us = 86_400_000_000
    o_start = _us(1995, 1, 1)
    o_days = (_us(2001, 8, 1) - o_start) // day_us
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(o_start + rng.integers(0, o_days + 1, n_ord) * day_us),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(o_start + day_us + rng.integers(0, o_days + 95, n_li) * day_us)})
    ev_start = _us(2024, 1, 1)
    ev_ts = np.sort(ev_start + rng.integers(0, 30 * day_us, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # Documents: random word sequences, with ~10% near-duplicates (a few
    # words replaced) and ~2% exact duplicates so every dedup, winnowing
    # and suffix operator has real matches to find.
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.12:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 110))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # Embeddings: 64-d unit vectors around ten label centroids.
    n_emb = n_docs
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([v.astype(np.float32) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


POS_FIELDS = ["transaction_id", "store_id", "product_id", "quantity", "revenue",
              "discount_applied", "timestamp"]


def _jsonl(path, records):
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


# One ingest cycle lands one business day of the shop, taken from the base
# tables the landing files are drawn from (sf0.1): the line items shipped
# that day are the POS sales, each sold product's stock record is an
# inventory update, the day's events are the WEB clickstream, and the
# day's sign-up and error events are the CRM contacts. Only the number of
# files per feed is a parameter; the records per cycle follow from the
# tables (at sf0.1 about 240 POS lines, 360 inventory records, 3 300 WEB
# and 1 300 CRM records).
POS_FILES = 3     # the day's sales, in three shift exports
INV_FILES = 2     # stock snapshots per day: mid-day and end of day
WEB_FILES = 2
CRM_FILES = 2
CRM_EVENTS = ("signup", "error")
DAY_US = 86_400_000_000


def _by_day(ts_us, rng_days):
    """Indices of the rows of each day, days counted from the first row's."""
    day = (ts_us - ts_us.min()) // DAY_US
    order = np.argsort(day, kind="stable")
    bounds = np.searchsorted(day[order], np.arange(rng_days + 1))
    return [order[bounds[d]:bounds[d + 1]] for d in range(rng_days)]


def _columns(table):
    """Numeric columns as numpy arrays (values converted to Python types on use), others as lists."""
    num = lambda t: pa.types.is_integer(t) or pa.types.is_floating(t)
    return {f.name: table.column(f.name).to_numpy() if num(f.type) else table.column(f.name).to_pylist()
            for f in table.schema}


def landing(base_dir, out_dir, seed, cycles):
    """Writes out_dir/<cycle>/{pos,inventory,web,crm}/ and out_dir/invariants.tsv."""
    li = pq.read_table(os.path.join(base_dir, "lineitem.parquet"),
                       columns=["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
                                "l_discount", "l_shipdate"])
    ev = pq.read_table(os.path.join(base_dir, "events.parquet"),
                       columns=["ts", "user_id", "event_type", "props", "value"])
    li_days = _by_day(li.column("l_shipdate").cast(pa.int64()).to_numpy(),
                      int(np.ptp(li.column("l_shipdate").cast(pa.int64()).to_numpy()) // DAY_US) + 1)
    ev_days = _by_day(ev.column("ts").cast(pa.int64()).to_numpy(),
                      int(np.ptp(ev.column("ts").cast(pa.int64()).to_numpy()) // DAY_US) + 1)
    li, ev = _columns(li.drop(["l_shipdate"])), _columns(ev.drop(["ts"]))
    rng = np.random.default_rng([DATA_SEED, seed])
    # the seed picks which run of days lands
    li_first = int(rng.integers(0, len(li_days) - cycles))
    ev_first = int(rng.integers(0, len(ev_days)))
    now = 1_720_000_000.0  # inventory "now" for the not-in-the-future rule
    inv = []
    pos_total = Decimal(0)
    inv_ids = set()
    web_landed = web_bad = crm_landed = crm_bad = 0
    pos_quarantined = inv_quarantined = 0
    for c in range(cycles):
        day = datetime.fromtimestamp(1_719_792_000 + 86_400 * (c % 28), tz=timezone.utc)
        cdir = os.path.join(out_dir, f"{c:04d}")
        for sub in ("pos", "inventory", "web", "crm"):
            os.makedirs(os.path.join(cdir, sub), exist_ok=True)
        sold = li_days[li_first + c]
        for f, lines in enumerate(np.array_split(sold, POS_FILES)):
            bad = rng.random() < 0.02
            rows = []
            total = Decimal(0)
            for r, i in enumerate(lines):
                rev = Decimal(str(round(float(li["l_extendedprice"][i]) / 10.0, 2)))
                total += rev
                ts = day.timestamp() + f * 3600 + r * 7 + 0.5
                rows.append([f"T{seed}-{c}-{f}-{r}", int(li["l_suppkey"][i]), int(li["l_partkey"][i]),
                             int(li["l_quantity"][i]), str(rev),
                             "" if rng.random() < 0.3 else str(float(li["l_discount"][i])), repr(ts)])
            if bad:
                rows[int(rng.integers(0, len(rows)))][4] = ""
                pos_quarantined += 1
            else:
                pos_total += total
            name = f"pos_{day:%Y%m%d}_{f:02d}{c % 60:02d}{seed % 60:02d}.csv"
            with open(os.path.join(cdir, "pos", name), "w") as fh:
                fh.write(",".join(POS_FIELDS) + "\n")
                fh.writelines(",".join(map(str, row)) + "\n" for row in rows)
        for f in range(INV_FILES):
            # snapshot f holds the stock record of every product sold so far
            # that day, so records of the morning's products repeat in the
            # evening snapshot; the latest last_updated wins
            bad = rng.random() < 0.02
            recs = []
            for r, i in enumerate(sold[:len(sold) * (f + 1) // INV_FILES]):
                pk = int(li["l_partkey"][i])
                recs.append({"inventory_id": pk, "product_id": pk,
                             "warehouse_id": 200 + int(li["l_suppkey"][i]) % 10,
                             "stock_level": int(rng.integers(0, 500)),
                             "restock_threshold": None if rng.random() < 0.1 else int(rng.integers(0, 50)),
                             "last_updated": now - 86_400 * (cycles - c) + f * 3600 + r})
            if bad:
                recs[int(rng.integers(0, len(recs)))]["stock_level"] = -1
                inv_quarantined += 1
            else:
                inv_ids.update(r["inventory_id"] for r in recs)
            _jsonl(os.path.join(cdir, "inventory", f"inventory_{day:%Y%m%d}_{c:04d}_{f:02d}.jsonl"), recs)
        events = ev_days[(ev_first + c) % len(ev_days)]
        for f, part in enumerate(np.array_split(events, WEB_FILES)):
            recs = []
            for r, i in enumerate(part):
                rec = {"session_id": f"s{ev['user_id'][i]}-{c}", "user_id": None if rng.random() < 0.1 else f"u{ev['user_id'][i]}",
                       "page": ev["props"][i], "device_type": ["mobile", "desktop", "tablet"][i % 3],
                       "browser": ["chrome", "firefox", "safari"][r % 3], "event_type": ev["event_type"][i],
                       "timestamp": day.timestamp() + r * 11 + (0 if r % 2 else 0.25)}
                if rng.random() < 0.02:
                    rec["session_id"] = " " if r % 2 else None
                    web_bad += 1
                recs.append(rec)
            web_landed += len(recs)
            _jsonl(os.path.join(cdir, "web", f"web_{c:04d}_{f:02d}.jsonl"), recs)
        contacts = [i for i in events if ev["event_type"][i] in CRM_EVENTS]
        for f, part in enumerate(np.array_split(np.asarray(contacts, dtype=np.int64), CRM_FILES)):
            recs = []
            for r, i in enumerate(part):
                rec = {"customer_id": int(ev["user_id"][i]) + 1, "interaction_type": ev["event_type"][i],
                       "timestamp": day.timestamp() + r * 13, "channel": [" email ", "phone", ""][r % 3],
                       "rating": int(float(ev["value"][i])) % 7, "message_excerpt": f" msg {i} "}
                if rng.random() < 0.02:
                    rec["customer_id"] = -rec["customer_id"]
                    crm_bad += 1
                recs.append(rec)
            crm_landed += len(recs)
            _jsonl(os.path.join(cdir, "crm", f"crm_{c:04d}_{f:02d}.jsonl"), recs)
        inv.append({"pos_total_sales": str(pos_total), "pos_quarantined_files": pos_quarantined,
                    "inventory_ids": len(inv_ids), "inventory_quarantined_files": inv_quarantined,
                    "web_landed": web_landed, "web_rejected": web_bad,
                    "crm_landed": crm_landed, "crm_rejected": crm_bad})
    with open(os.path.join(out_dir, "invariants.tsv"), "w") as fh:
        fh.write(f"now_epoch\t{now!r}\n")
        fh.write("\t".join(inv[0]) + "\n")
        fh.writelines("\t".join(str(v) for v in row.values()) + "\n" for row in inv)
