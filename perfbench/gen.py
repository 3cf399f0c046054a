"""Seeded generator for the TPC-H-ish fixture tables the engine reads.

The tables have the schemas ``dtle_spark.tableio.TABLES`` expects
(same column names, types and value domains), scaled like the fixtures:
at scale factor ``sf`` there are 150_000*sf customers, 1_500_000*sf
orders and ~4 lines per order. The same ``(sf, seed)`` always writes
byte-identical parquet files, so expected results computed once stay
valid (see ``slice_expected.json``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(n_ord)
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(ok, lines)
    n_li = len(lok)
    # line numbers restart per order; a few repeat, so (l_orderkey,
    # l_linenumber) is not unique, as in the fixtures
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = np.arange(n_li) - starts + 1
    lnum = np.where(rng.random(n_li) < 0.05, 1, lnum)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US
    perm = rng.permutation(n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(ship),
    }).take(pa.array(perm))
    ets = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 8 and rng.random() < 0.1:
            # near-duplicate of an earlier document, as the fixtures have
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(scale=0.8, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
