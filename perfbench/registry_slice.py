"""The ``registry_slice`` workload: 18 batch operators from the query
registry, each timed in two parts.

*Build* is the ``spark_fn`` call, with whatever it pins or collects
eagerly; *execution* is a ``noop`` write of the returned DataFrame (full
materialisation, nothing collected to the driver). The jobs of each part
are counted afterwards from Spark's status store.

Correctness: every query's result is checked against a row count and an
order-insensitive hash computed once from the query's DuckDB oracle over
the generated tables and kept in ``slice_expected.json``. Regenerate it
after changing the generator, the scale or the query list::

    python3 perfbench/registry_slice.py --expect
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

QUERIES = [
    "cdc_apply_orders",
    "cdc_star_view_lineitem",
    "cdc_join_view_orders",
    "cdc_rollup_orders",
    "snapshot_diff_triaged_orders",
    "scd2_orders_history",
    "orders_as_of_seq",
    "update_pair_filter",
    "where_filter",
    "column_map",
    "debezium_envelope",
    "snapshot_chunk",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "containment_pairs",
    "hybrid_rrf",
    "ann_topk_ivf_pq",
    "dq_drift_gate_by_priority",
]

# run once, untimed, before the timed pass: they warm the planner and
# code generation every query shares
WARMUP = ["where_filter", "column_map", "snapshot_chunk"]

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slice_expected.json")


def _canon(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return _canon(v.asDict())
    return str(v)


def result_digest(columns: list[str], rows) -> dict:
    """Row count plus an order-insensitive md5 over rows whose values
    are put in column-name order, so Spark and DuckDB results compare
    regardless of row order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "md5": h.hexdigest()}


def load_expected(sf: float) -> dict:
    with open(EXPECTED_PATH) as f:
        data = json.load(f)
    return data[str(sf)]


def run_pass(spark, sf_dir: str, names: list[str], tracer=None,
             expected: dict | None = None) -> list[dict]:
    """One pass over ``names``. Each record holds build_s and exec_s and
    the wall-clock window (epoch ms) of each part, for counting its jobs
    in the status store afterwards. With ``expected`` (name -> digest)
    the result is then collected and checked, outside both timings. A
    query that raises is recorded with ``ok`` false."""
    from dtle_spark.queries import REGISTRY
    from tracing import optional_span

    out = []
    for name in names:
        fn = REGISTRY[name].spark_fn
        rec = {"name": name, "ok": True}
        try:
            with optional_span(tracer, "queries.build", name):
                rec["build_s"], rec["build_ms"], df = _timed(lambda: fn(spark, sf_dir))
            with optional_span(tracer, "queries.exec", name):
                rec["exec_s"], rec["exec_ms"], _ = _timed(
                    lambda: df.write.format("noop").mode("overwrite").save())
            if expected is not None:
                rec["got"] = result_digest(df.columns, df.collect())
                rec["ok"] = rec["got"] == expected.get(name)
        except Exception as e:  # one failed query must not end the pass
            rec.update(ok=False, error=repr(e)[:300])
        out.append(rec)
    return out


def _timed(call):
    ms0 = time.time() * 1000
    t0 = time.perf_counter()
    value = call()
    return time.perf_counter() - t0, (ms0, time.time() * 1000), value


def oracle_digests(sf_dir: str, names: list[str]) -> dict:
    import duckdb

    from dtle_spark.queries import REGISTRY
    from dtle_spark.tableio import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in names:
        t0 = time.perf_counter()
        res = con.execute(REGISTRY[name].oracle)
        cols = [d[0] for d in res.description]
        out[name] = result_digest(cols, res.fetchall())
        print(f"oracle {name}: {out[name]['rows']} rows, {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)
    return out


def main() -> int:
    """``--expect [sf ...]``: compute the expected digests from the
    DuckDB oracles and store them in ``slice_expected.json``."""
    import argparse
    import shutil
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    import gen
    from run import SLICE_SF, TABLE_SEED

    ap = argparse.ArgumentParser()
    ap.add_argument("--expect", nargs="*", type=float)
    args = ap.parse_args()
    if args.expect is None:
        ap.error("nothing to do; pass --expect")
    data = {}
    if os.path.exists(EXPECTED_PATH):
        with open(EXPECTED_PATH) as f:
            data = json.load(f)
    for sf in args.expect or [SLICE_SF]:
        tmp = tempfile.mkdtemp(prefix="slice-expect-", dir=os.getcwd())
        try:
            gen.write_tables(tmp, sf, TABLE_SEED)
            data[str(sf)] = oracle_digests(tmp, QUERIES)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
