"""Seeded generator for the star-schema corpus the registry queries read.

Builds one Arrow table per name (``region nation customer supplier part
orders lineitem events documents embeddings``) with the column names and
types the queries and their DuckDB oracles expect. Row counts follow
TPC-H proportions scaled by ``sf``. The same (seed, sf) always gives
byte-identical tables.

Value discipline keeps Spark and DuckDB bit-comparable: money columns
are whole cents, discounts and taxes whole percent, timestamps whole
microseconds.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer fast filter group hash join key line merge "
    "order part query scan slow small sort spark stream table the value vector"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr"]
DIM = 64
N_LABELS = 10


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng, start: str, days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, days, n).astype("timedelta64[D]")


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_events = max(500, int(1_000_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
            "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"])[
                rng.integers(0, 5, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _money(rng, 900, 2100, n_part),
        }),
    }

    o_date = _days(rng, "1995-01-01", 2400, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 400_000, n_ord),
        "o_orderdate": o_date,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    l_lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_lineno.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": qty * rng.integers(900, 2100, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": np.repeat(o_date, lines)
        + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
    })

    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, span_us, n_events).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(10, n_events // 60), n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": rng.integers(0, 56_000, n_events) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i and rng.random() < 0.15:
            # a near-duplicate of an earlier document with a few words changed
            base = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(base), max(1, len(base) // 12)):
                base[j] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(12, 96)))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    centers = rng.standard_normal((N_LABELS, DIM))
    vecs = (centers[labels] + 0.35 * rng.standard_normal((n_vecs, DIM))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return out
