"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its size and seed, so the same
``--seed`` always yields byte-identical inputs, and every generator returns
the outcome counts the engine must reproduce on that input. Nothing here
imports Spark or the engine.

- ``write_csv``: delimited lines ``key,"value,with,comma",amount,flag``;
  about 1% carry an unterminated quote and about 1% a non-numeric amount.
- ``write_fixed_width``: 27-character fixed-width lines; about 1% have the
  wrong length.
- ``write_tables``: the TPC-H-like star schema plus ``events`` /
  ``documents`` / ``embeddings``, one parquet file per table, with the
  column names and types the registered queries read.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import zlib

CSV_HEADERS = "key,value,amount,flag"
CSV_TYPES = "string,string,number,boolean"
FW_LAYOUT = [
    {"fieldName": "key", "type": "string", "startPosition": 1, "endPosition": 10},
    {"fieldName": "amount", "type": "number", "startPosition": 11, "endPosition": 22},
    {"fieldName": "flag", "type": "boolean", "startPosition": 23, "endPosition": 27},
]
FW_WIDTH = FW_LAYOUT[-1]["endPosition"]
BAD_SHARE = 0.01  # per defect kind
REJECT_MODULUS = 10  # the REST stub answers 422 for crc32(key) % 10 == 0


def stub_rejects(key: str) -> bool:
    """The REST stub's fixed verdict for one record key (about 10% reject)."""
    return zlib.crc32(key.encode()) % REJECT_MODULUS == 0


def _expected(total: int, failed: int) -> dict[str, int]:
    return {
        "totalRecordCount": total,
        "successCount": total - failed,
        "failureCount": failed,
    }


def write_csv(path: str, n: int, seed: int) -> dict[str, int]:
    """Write ``n`` CSV lines; return the expected BatchRun counts."""
    rng = random.Random(seed)
    bad = 0
    with open(path, "w") as f:
        chunk = []
        for i in range(n):
            key = f"K{i:09d}"
            value = f"C{rng.randrange(100):02d},{rng.randrange(10000):04d}"
            amount = f"{rng.uniform(0, 100000):.2f}"
            flag = "true" if rng.random() < 0.5 else "false"
            u = rng.random()
            if u < BAD_SHARE:  # unterminated quote => malformed record
                line = f'{key},"{value},{amount},{flag}'
                bad += 1
            elif u < 2 * BAD_SHARE:  # non-numeric amount => coercion failure
                line = f'{key},"{value}",n/a{amount},{flag}'
                bad += 1
            else:
                line = f'{key},"{value}",{amount},{flag}'
            chunk.append(line)
            if len(chunk) == 10000:
                f.write("\n".join(chunk) + "\n")
                chunk = []
        if chunk:
            f.write("\n".join(chunk) + "\n")
    return _expected(n, bad)


def write_fixed_width(path: str, n: int, seed: int) -> dict[str, int]:
    """Write ``n`` fixed-width lines; return the expected BatchRun counts of
    a REST-sink run against the stub, plus ``requests``: the records that
    parse and therefore reach the sink."""
    rng = random.Random(seed)
    wrong_length = rejected = 0
    lines = []
    for i in range(n):
        key = f"K{i:09d}"
        line = f"{key}{rng.uniform(0, 1e7):12.2f}{'true ' if rng.random() < 0.5 else 'false'}"
        if rng.random() < BAD_SHARE:
            line = line + "X" if rng.random() < 0.5 else line[:-1]
            wrong_length += 1
        elif stub_rejects(key):
            rejected += 1
        lines.append(line)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    out = _expected(n, wrong_length + rejected)
    out["requests"] = n - wrong_length
    return out


# --- query tables -----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_DOCS = 500
EMB_DIM = 64


def _days(start: dt.date, offsets) -> list[dt.datetime]:
    base = dt.datetime(start.year, start.month, start.day)
    return [base + dt.timedelta(days=int(d)) for d in offsets]


def _documents(rng: random.Random) -> list[str]:
    """Random word sequences plus near-duplicate chains: a copy of an earlier
    document with one word appended (shingle Jaccard >= 0.9 against its
    source, far from the 0.8 threshold), and a few exact copies."""
    texts: list[str] = []
    for i in range(N_DOCS):
        u = rng.random()
        long_docs = [t for t in texts if len(t.split()) >= 20]
        if long_docs and u < 0.08:
            texts.append(rng.choice(long_docs) + " " + rng.choice(WORDS))
        elif long_docs and u < 0.10:
            texts.append(rng.choice(long_docs))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 99))))
    return texts


def write_tables(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the query tables at ``scale`` (1.0 = 60,000 lineitem rows);
    return the row count of each table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    n_cust = max(150, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(200, int(2000 * scale))
    n_ord = max(1500, int(15000 * scale))
    n_line = max(6000, int(60000 * scale))
    n_ev = max(1000, int(10000 * scale))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return [values[i] for i in rng.integers(0, len(values), n)]

    us = pa.timestamp("us")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, n_part), pick(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)],
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), rng.integers(0, 2404, n_ord)), us),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": pa.array(_days(dt.date(1995, 1, 2), rng.integers(0, 2499, n_line)), us),
        }),
    }
    start_us = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev)) + start_us
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts_us, us),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(prng)
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [prng.choice(LANGS) for _ in range(N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.normal(size=(N_DOCS, EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_DOCS), pa.int64()),
        "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_DOCS), pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
