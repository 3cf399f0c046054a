"""Wire-form change streams for the replication workloads.

The streams are ``dtle_spark.plans.cdc_demo``'s orders, lineitem and
customer change streams, reshaped into the traffic a MySQL binlog
bridge would deliver:

- two sources: orders and lineitem share ``SID_OL`` (one order's
  changes to both tables form one multi-table transaction), customer
  has its own ``SID_CU``. cdc_demo gives every stream the same sid with
  ``seq = key*10+j``, so customer key k and orders key k would collide
  on (sid, gno, seq) and the redelivery dedupe would drop real rows;
- dense GTIDs: ``gno`` is renumbered 1..n per source, as MySQL assigns
  them (cdc_demo's raw gno is the sparse primary key, which fragments
  the applied GtidSet into one interval per transaction);
- ``seq`` is renumbered densely in log order per source; verbatim
  redeliveries keep sharing their (sid, gno, seq);
- one ``ALTER TABLE ... ADD COLUMN ... DEFAULT`` on customer, in its
  own transaction at a seeded position. Customer after-images logged
  after it carry the new column;
- the log ends with one heartbeat transaction per source, a write to a
  table the job does not replicate (as ``pt-heartbeat`` keeps a source
  busy). The TxSpool holds each source's last transaction until a later
  one proves it complete, so the heartbeats let the last real
  transactions apply with the last file instead of in a separate flush.

The seed picks the DDL position, how the two sources interleave in the
log and where the log is cut into files. The program sees only the
files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SID_OL = "0a0a0a0a-0000-4000-8000-000000000001"
SID_CU = "0c0c0c0c-0000-4000-8000-000000000002"
DDL_COLUMN = "c_tier"
DDL = f"ALTER TABLE db1.customer ADD COLUMN {DDL_COLUMN} varchar(8) DEFAULT 'std'"

WIRE_ARROW = pa.schema([
    pa.field("sid", pa.string(), False),
    pa.field("gno", pa.int64(), False),
    pa.field("seq", pa.int64(), False),
    pa.field("lc", pa.int64()),
    pa.field("op", pa.string(), False),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
    pa.field("schema_name", pa.string()),
    pa.field("table_name", pa.string()),
    pa.field("before", pa.string()),
    pa.field("after", pa.string()),
    pa.field("query", pa.string()),
])

KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_lineuid"],
    "customer": ["c_custkey"],
}


def tier_of(custkey: int) -> str:
    """c_tier written into customer images logged after the DDL."""
    return "gold" if custkey % 2 == 0 else "silver"


def derive(spark, sf_dir: str):
    """The three typed cdc_demo streams, their snapshot bases and row
    schemas. Returns (wire pandas frame, {table: base DataFrame},
    {table: row StructType})."""
    from dtle_spark.plans import cdc_demo
    from dtle_spark.streaming.wire import to_wire
    from dtle_spark.tableio import load_table

    rekeyed = cdc_demo.rekeyed_lineitem_pinned(spark, sf_dir)
    typed = {
        "orders": cdc_demo.orders_changes(spark, sf_dir),
        "lineitem": cdc_demo.lineitem_changes(spark, sf_dir, rekeyed=rekeyed),
        "customer": cdc_demo.customer_changes(spark, sf_dir),
    }
    wire = None
    for df in typed.values():
        w = to_wire(df)
        wire = w if wire is None else wire.unionByName(w)
    bases = {
        "orders": cdc_demo.orders_base(spark, sf_dir),
        "lineitem": cdc_demo.lineitem_base(spark, sf_dir, rekeyed=rekeyed),
        "customer": load_table(spark, sf_dir, "customer"),
    }
    row_types = {t: df.schema["after"].dataType for t, df in typed.items()}
    return wire.toPandas(), bases, row_types


def _renumber(rows: pd.DataFrame, sid: str) -> pd.DataFrame:
    """Dense gno per original transaction, dense seq in log order;
    verbatim redeliveries (same raw gno, seq and table) share both."""
    rows = rows.sort_values(["gno", "seq", "table_name"], kind="stable").copy()
    rows["gno"] = pd.factorize(rows["gno"])[0].astype(np.int64) + 1
    rows["seq"] = pd.factorize(
        pd.Series(list(zip(rows["gno"], rows["seq"], rows["table_name"])))
    )[0].astype(np.int64) + 1
    rows["sid"] = sid
    return rows


def _custkey(image: str) -> int:
    return int(image.split('"c_custkey":', 1)[1].split(",", 1)[0])


def _with_tier(after: str | None) -> str | None:
    if after is None:
        return None
    return after[:-1] + f',"{DDL_COLUMN}":"{tier_of(_custkey(after))}"}}'


def build_log(wire: pd.DataFrame, seed: int, ddl_at: tuple[float, float]) -> tuple[pd.DataFrame, int]:
    """Whole change log in delivery order, plus the smallest customer key
    whose transaction commits after the DDL (customer transactions run
    in key order). ``ddl_at`` is the range, as fractions of the customer
    transactions, the DDL position is drawn from. Returns (log,
    first_tiered_custkey)."""
    rng = np.random.default_rng(seed)
    ol = _renumber(wire[wire["table_name"] != "customer"], SID_OL)
    cu = _renumber(wire[wire["table_name"] == "customer"], SID_CU)
    n_cu = int(cu["gno"].max())
    # the DDL commits as its own tx at a seeded position
    ddl_gno = int(rng.integers(int(n_cu * ddl_at[0]), int(n_cu * ddl_at[1]))) + 1
    cu.loc[cu["gno"] >= ddl_gno, "gno"] += 1
    after_ddl = cu["gno"] > ddl_gno
    first_tiered = min(_custkey(a if a is not None else b)
                       for a, b in zip(cu.loc[after_ddl, "after"], cu.loc[after_ddl, "before"]))
    cu.loc[after_ddl, "after"] = cu.loc[after_ddl, "after"].map(_with_tier)
    ddl_seq = int(cu.loc[cu["gno"] < ddl_gno, "seq"].max()) + 1
    cu.loc[cu["seq"] >= ddl_seq, "seq"] += 1
    ddl = pd.DataFrame([{
        "sid": SID_CU, "gno": ddl_gno, "seq": ddl_seq, "lc": 0, "op": "ddl",
        "ts": None, "schema_name": "db1", "table_name": "customer",
        "before": None, "after": None, "query": DDL,
    }])
    cu = pd.concat([cu, ddl]).sort_values(["gno", "seq"], kind="stable")
    ol = ol.sort_values(["gno", "seq"], kind="stable")
    # interleave the two sources' logs: each keeps its own order, and
    # every row of a transaction stays contiguous
    parts = []
    for src in (ol, cu):
        tx = src["gno"].to_numpy()
        jitter = rng.random(int(tx.max()))[tx - 1]
        parts.append(src.assign(_p=(tx - 1 + jitter) / tx.max()))
    log = pd.concat(parts).sort_values(["_p", "sid", "seq"], kind="stable").drop(columns="_p")
    heartbeats = pd.DataFrame([{
        "sid": sid, "gno": int(src["gno"].max()) + 1, "seq": int(src["seq"].max()) + 1,
        "lc": 0, "op": "i", "ts": None, "schema_name": "db1", "table_name": "heartbeat",
        "before": None, "after": '{"id":1}', "query": None,
    } for sid, src in ((SID_OL, ol), (SID_CU, cu))])
    return pd.concat([log, heartbeats]).reset_index(drop=True), first_tiered


def cut(n_rows: int, n_files: int, seed: int) -> list[tuple[int, int]]:
    """Seeded file boundaries: ``n_files`` files, each inner cut moved by
    up to a tenth of the mean file size. Cuts fall anywhere, so a
    transaction can span two files (the TxSpool case)."""
    rng = np.random.default_rng(seed + 1)
    size = n_rows / n_files
    inner = [int(size * (i + rng.uniform(-0.1, 0.1))) for i in range(1, n_files)]
    edges = [0, *inner, n_rows]
    return list(zip(edges[:-1], edges[1:]))


def stage(log: pd.DataFrame, lo: int, hi: int, staging_dir: str, name: str) -> str:
    """Write rows [lo, hi) as one wire file in ``staging_dir``, outside
    the source directory; :func:`land` makes it visible."""
    tbl = pa.Table.from_pandas(log.iloc[lo:hi], schema=WIRE_ARROW, preserve_index=False)
    staged = os.path.join(staging_dir, f"{name}.parquet")
    pq.write_table(tbl, staged)
    return staged


def land(staged: str, source_dir: str) -> None:
    """Make a staged file visible with one rename, the way a bridge
    closes a relay-log file."""
    os.rename(staged, os.path.join(source_dir, os.path.basename(staged)))


def source_txs(log: pd.DataFrame) -> dict[str, set[int]]:
    """Every transaction the source committed, per sid."""
    return {sid: set(g["gno"].tolist()) for sid, g in log.groupby("sid")}
