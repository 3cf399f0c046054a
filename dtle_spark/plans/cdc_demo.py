"""Deterministic CDC scenarios derived from the fixture tables.

The driver's correctness gate compares Spark results to DuckDB SQL over
the same parquet views, so the change streams here are **derived from
the fixture tables by pure expressions** — both engines can rebuild the
identical stream. The scenario shapes follow FIXTURES.md F-6: inserts
(incl. re-delivered duplicates of the same (sid, gno, seq)), updates,
PK-changing updates, deletes, and cross-key interleaving.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dtle_spark.tableio import load_table
from dtle_spark.model import OP_DELETE, OP_INSERT, OP_UPDATE

SID_A = "11111111-1111-1111-1111-111111111111"

# Fixture derivation history. Through r14 the streams were shared via
# a session-scoped cache ({(applicationId, sf_dir, name): DataFrame})
# — REMOVED in r15: a module-level memo of derived frames keyed on the
# test-data dir is exactly the cross-invocation caching the bench
# contract forbids. r15 replaced the cache with a per-invocation lazy
# localCheckpoint pin per stream, which paid a block-store
# materialization of the full stream (and of the full BASE table —
# scale-wrong: at 100 TB you never checkpoint the base) to dedupe the
# 3-5 reads each consumer plan made. r16 removes the need for the pin
# instead: the builds below emit the whole scripted stream from ONE
# scan (array-of-events explode, guide §2.4 — the union form ran one
# scan per branch), and operators/apply.py + operators/scd2.py now
# derive their effect/event rows with the same single-read explode —
# so every consumer plan reads each stream exactly once and
# re-derivation is a map-only scan; nothing is cached or checkpointed.


def _as_change(
    df: DataFrame,
    op: str,
    before: Column | None,
    after: Column | None,
    gno: Column,
    seq: Column,
    row_type: T.StructType,
    table: str,
    sid: str = SID_A,
) -> DataFrame:
    """One change-stream leg as its own frame — the reference shape the
    one-scan builds below are pinned against (kept for tests and for
    any future leg that genuinely needs its own source)."""
    null_row = F.lit(None).cast(row_type)
    return df.select(
        F.lit(sid).alias("sid"),
        gno.cast("long").alias("gno"),
        seq.cast("long").alias("seq"),
        F.lit(0).cast("long").alias("lc"),
        F.lit(op).alias("op"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit("db1").alias("schema_name"),
        F.lit(table).alias("table_name"),
        (before if before is not None else null_row).alias("before"),
        (after if after is not None else null_row).alias("after"),
        F.lit(None).cast("string").alias("query"),
    )


def _scripted_stream(
    src: DataFrame,
    events: list[tuple],
    row_type: T.StructType,
    table: str,
    sid: str = SID_A,
) -> DataFrame:
    """The whole scripted change stream from ONE scan of ``src``.

    ``events`` is [(cond, op, before|None, after|None, gno, seq), ...]
    — each source row emits the conditionally-present event structs as
    an array, exploded (guide §2.4: the r15 shape unioned one filtered
    scan of the source PER leg, so a 5-leg orders stream scanned the
    fact table five times; at 100 TB that is four extra full reads).
    The multiset of change rows is identical to the union of
    :func:`_as_change` legs — a leg's filter becomes its WHEN guard,
    and a row matching several guards emits several events (including
    the verbatim re-delivery duplicates).

    Constants (sid, lc, ts, schema/table, query) are re-emitted as
    literals OUTSIDE the per-event struct — one copy per row, and the
    output keeps the union shape's non-null schema (``op`` is coalesced
    only to restore non-nullability; kept events always carry it)."""
    null_row = F.lit(None).cast(row_type)
    els = [
        F.when(cond, F.struct(
            gno.cast("long").alias("gno"),
            seq.cast("long").alias("seq"),
            F.lit(op).alias("op"),
            (before if before is not None else null_row).alias("before"),
            (after if after is not None else null_row).alias("after"),
        ))
        for cond, op, before, after, gno, seq in events
    ]
    kept = src.select(F.explode(F.array(*els)).alias("__c")).filter(
        F.col("__c").isNotNull()
    )
    return kept.select(
        F.lit(sid).alias("sid"),
        F.col("__c.gno").alias("gno"),
        F.col("__c.seq").alias("seq"),
        F.lit(0).cast("long").alias("lc"),
        F.coalesce(F.col("__c.op"), F.lit(OP_INSERT)).alias("op"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit("db1").alias("schema_name"),
        F.lit(table).alias("table_name"),
        F.col("__c.before").alias("before"),
        F.col("__c.after").alias("after"),
        F.lit(None).cast("string").alias("query"),
    )


def orders_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot state: orders except keys ≡ 0 (mod 5) — those arrive later
    as stream inserts. NOT pinned (r16): consumers re-derive it with a
    map-only parquet scan, which keeps column pruning/pushdown and is
    the scale-correct shape (at 100 TB you never checkpoint the base
    table to serve a maintenance batch)."""
    return load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 5 != 0
    )


def orders_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scripted ``orders`` change stream (:func:`_orders_changes_build`)."""
    return _orders_changes_build(spark, sf_dir)


def _orders_changes_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scripted change stream over ``orders`` (PK = o_orderkey):

    - inserts   : keys ≡0 (mod 5), seq = k*10+1
    - updates   : keys ≡0 (mod 7), o_totalprice doubled, seq = k*10+2
    - deletes   : keys ≡0 (mod 11), seq = k*10+3
    - PK moves  : keys ≡0 (mod 17), key += 10_000_000, seq = k*10+4
    - re-delivery: inserts with key ≡0 (mod 10) duplicated verbatim
      (same (sid, gno, seq) — must be dropped by A10 dedupe)

    Overlaps are intentional: a key ≡0 (mod 35) is inserted then updated;
    ≡0 (mod 77) updated then deleted; the per-key seq winner decides.
    """
    o = load_table(spark, sf_dir, "orders")
    row_type = T.StructType(o.schema.fields)
    k = F.col("o_orderkey")
    row = F.struct(*[F.col(c) for c in o.columns])
    updated_row = F.struct(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.col("o_orderdate"),
        F.col("o_orderpriority"),
    )
    moved_row = F.struct(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
        F.col("o_orderdate"),
        F.col("o_orderpriority"),
    )

    return _scripted_stream(o, [
        (k % 5 == 0, OP_INSERT, None, row, k, k * 10 + 1),
        (k % 7 == 0, OP_UPDATE, row, updated_row, k, k * 10 + 2),
        (k % 11 == 0, OP_DELETE, row, None, k, k * 10 + 3),
        (k % 17 == 0, OP_UPDATE, row, moved_row, k, k * 10 + 4),
        # re-delivery: verbatim duplicate of the insert event
        (k % 10 == 0, OP_INSERT, None, row, k, k * 10 + 1),
    ], row_type, "orders")


def orders_changes_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``orders_changes`` with a deterministic EVENT TIME: ts = epoch
    + seq seconds — strictly monotone in seq, so both engines can
    reason about a timestamp cutoff as a seq cutoff without ever
    comparing raw timestamps across engines (kept separate from
    orders_changes: the Debezium envelope oracle pins ts_ms to the
    NULL-ts fallback)."""
    return orders_changes(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.col("seq"))
    )


# DuckDB restatement of orders_base + orders_changes + key-latest apply
# (shared by the oracle registry and tests).
ORDERS_CDC_ORACLE = """
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 5 <> 0),
eff AS (
  SELECT o_orderkey AS k, o_orderkey*10+1 AS seq, 'upsert' AS action,
         o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_orderkey*10+2, 'upsert',
         o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderkey*10+4, 'upsert',
         o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 17 = 0
  UNION ALL
  SELECT o_orderkey, o_orderkey*10+3, 'delete', NULL, NULL, NULL, NULL, NULL, NULL
  FROM orders WHERE o_orderkey % 11 = 0
  UNION ALL
  SELECT o_orderkey, o_orderkey*10+4, 'delete', NULL, NULL, NULL, NULL, NULL, NULL
  FROM orders WHERE o_orderkey % 17 = 0
),
winner AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM eff
  ) WHERE rn = 1
)
SELECT b.* FROM base b
WHERE NOT EXISTS (SELECT 1 FROM winner w WHERE w.k = b.o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM winner WHERE action = 'upsert'
"""


CUSTOMER_WHERE = "c_acctbal > 1000.0 AND lower(c_mktsegment) <> 'machinery'"


def customer_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scripted ``customer`` change stream (:func:`_customer_changes_build`)."""
    return _customer_changes_build(spark, sf_dir)


def _customer_changes_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change stream for the F3 update-pair filter scenario: every
    customer row gets an update (+4000 acctbal — crosses the Where
    threshold for some), keys ≡0 (mod 3) an insert (−2000), keys ≡0
    (mod 4) a delete."""
    c = load_table(spark, sf_dir, "customer")
    row_type = T.StructType(c.schema.fields)
    k = F.col("c_custkey")
    row = F.struct(*[F.col(col) for col in c.columns])

    def shifted(delta: float) -> Column:
        return F.struct(
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("c_nationkey"),
            (F.col("c_acctbal") + delta).alias("c_acctbal"),
            F.col("c_mktsegment"),
        )

    return _scripted_stream(c, [
        (F.lit(True), OP_UPDATE, row, shifted(4000.0), k, k * 10 + 1),
        (k % 3 == 0, OP_INSERT, None, shifted(-2000.0), k, k * 10 + 2),
        (k % 4 == 0, OP_DELETE, row, None, k, k * 10 + 3),
    ], row_type, "customer")


CUSTOMER_FILTER_ORACLE = """
WITH cu AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
upd AS (
  SELECT c_custkey, c_custkey*10+1 AS seq,
    (c_acctbal > 1000.0 AND lower(c_mktsegment) <> 'machinery') AS bp,
    (c_acctbal + 4000.0 > 1000.0 AND lower(c_mktsegment) <> 'machinery') AS ap
  FROM cu),
ins AS (
  SELECT c_custkey, c_custkey*10+2 AS seq,
    (c_acctbal - 2000.0 > 1000.0 AND lower(c_mktsegment) <> 'machinery') AS ap
  FROM cu WHERE c_custkey % 3 = 0),
del AS (
  SELECT c_custkey, c_custkey*10+3 AS seq,
    (c_acctbal > 1000.0 AND lower(c_mktsegment) <> 'machinery') AS bp
  FROM cu WHERE c_custkey % 4 = 0)
SELECT c_custkey, seq,
       CASE WHEN bp AND ap THEN 'u' WHEN ap THEN 'i' WHEN bp THEN 'd' END AS op
FROM upd WHERE bp OR ap
UNION ALL SELECT c_custkey, seq, 'i' FROM ins WHERE ap
UNION ALL SELECT c_custkey, seq, 'd' FROM del WHERE bp
"""


_LI_ORDER = (
    "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, "
    "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
)


def _rekeyed_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem with a synthesized UNIQUE line id: the fixture data's
    (l_orderkey, l_linenumber) is NOT unique (duplicate line rows), so
    the star-view fact re-keys with a full-order row_number per order —
    rows that tie on every column are bit-identical, so the resulting
    MULTISET is engine-independent even though the assignment among
    identical twins is arbitrary. PK = (l_orderkey, l_lineuid)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        *[F.col(c.strip()) for c in _LI_ORDER.split(",")]
    )
    return li.withColumn("l_lineuid", F.row_number().over(w))


def rekeyed_lineitem_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One lazily-pinned rekeyed fact for callers that need BOTH the
    base and the change stream (the star-view query): the rekey's
    row_number window is a full sort of lineitem, and building base
    and changes from separate pins would pay that sort twice per
    invocation."""
    return _rekeyed_lineitem(spark, sf_dir).localCheckpoint(eager=False)


def lineitem_base(
    spark: SparkSession, sf_dir: str, rekeyed: DataFrame | None = None
) -> DataFrame:
    """Star-view snapshot state: re-keyed lineitem except order keys
    ≡0 (mod 5) — those arrive later as stream inserts (composite PK =
    (l_orderkey, l_lineuid)). Pass ``rekeyed`` (from
    :func:`rekeyed_lineitem_pinned`) to share one rekey sort with the
    change-stream build."""
    if rekeyed is not None:
        return rekeyed.filter(F.col("l_orderkey") % 5 != 0)
    return _rekeyed_lineitem(spark, sf_dir).filter(
        F.col("l_orderkey") % 5 != 0
    )


def lineitem_changes(
    spark: SparkSession, sf_dir: str, rekeyed: DataFrame | None = None
) -> DataFrame:
    """The scripted lineitem change stream
    (:func:`_lineitem_changes_build`); ``rekeyed`` shares one rekey sort
    with the base build (see :func:`rekeyed_lineitem_pinned`)."""
    return _lineitem_changes_build(spark, sf_dir, rekeyed=rekeyed)


def _lineitem_changes_build(
    spark: SparkSession, sf_dir: str, rekeyed: DataFrame | None = None
) -> DataFrame:
    """Scripted change stream over the re-keyed lineitem (composite PK
    = (l_orderkey, l_lineuid)):

    - inserts : order keys ≡0 (mod 5), seq = (okey*1e5+uid)*10+1
    - updates : order keys ≡0 (mod 7), l_quantity + 5, seq = ..+2
    - deletes : order keys ≡0 (mod 11), seq = ..+3

    A key ≡0 (mod 35) is inserted then updated; ≡0 (mod 77) updated
    then deleted; the per-key seq winner decides (as for orders)."""
    # the one-scan build reads the rekeyed fact exactly once, so no pin
    # is needed here; pass ``rekeyed`` (rekeyed_lineitem_pinned) only
    # when the caller ALSO builds the base from it — then the pin
    # shares the one full-order row_number sort between the two
    li = rekeyed if rekeyed is not None else _rekeyed_lineitem(spark, sf_dir)
    row_type = T.StructType(li.schema.fields)
    k = F.col("l_orderkey")
    row = F.struct(*[F.col(c) for c in li.columns])
    updated_row = F.struct(
        *[
            ((F.col("l_quantity") + 5).alias("l_quantity")
             if c == "l_quantity" else F.col(c))
            for c in li.columns
        ]
    )
    # seq must be UNIQUE PER EVENT ROW, not per order: every line of
    # an order shares gno=okey, and the A10 dedupe drops duplicate
    # (sid, gno, seq) triples — an order-grain seq would swallow all
    # but one line of each leg (found the hard way in r11)
    u = F.col("l_lineuid")
    return _scripted_stream(li, [
        (k % 5 == 0, OP_INSERT, None, row, k, (k * 100000 + u) * 10 + 1),
        (k % 7 == 0, OP_UPDATE, row, updated_row, k, (k * 100000 + u) * 10 + 2),
        (k % 11 == 0, OP_DELETE, row, None, k, (k * 100000 + u) * 10 + 3),
    ], row_type, "lineitem")


_LI_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
    "l_shipdate, l_lineuid"
)

# DuckDB restatement of lineitem_base + lineitem_changes + key-latest
# apply on the composite PK (shared by the star-view oracle and tests).
# The fixture data's (l_orderkey, l_linenumber) is NOT unique, so both
# engines re-key with the same full-order row_number (see
# _rekeyed_lineitem for why the multiset is engine-independent).
LINEITEM_CDC_ORACLE = f"""
WITH li AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY l_orderkey ORDER BY {_LI_ORDER}
  ) AS INTEGER) AS l_lineuid
  FROM lineitem
),
base AS (SELECT * FROM li WHERE l_orderkey % 5 <> 0),
eff AS (
  SELECT l_orderkey AS k1, l_lineuid AS k2, (l_orderkey*100000 + l_lineuid)*10+1 AS seq,
         'upsert' AS action, {_LI_COLS}
  FROM li WHERE l_orderkey % 5 = 0
  UNION ALL
  SELECT l_orderkey, l_lineuid, (l_orderkey*100000 + l_lineuid)*10+2, 'upsert',
         l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity + 5,
         l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
         l_shipdate, l_lineuid
  FROM li WHERE l_orderkey % 7 = 0
  UNION ALL
  SELECT l_orderkey, l_lineuid, (l_orderkey*100000 + l_lineuid)*10+3, 'delete',
         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
         NULL
  FROM li WHERE l_orderkey % 11 = 0
),
winner AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY k1, k2 ORDER BY seq DESC) AS rn
    FROM eff
  ) WHERE rn = 1
)
SELECT b.* FROM base b
WHERE NOT EXISTS (
  SELECT 1 FROM winner w WHERE w.k1 = b.l_orderkey AND w.k2 = b.l_lineuid
)
UNION ALL
SELECT {_LI_COLS} FROM winner WHERE action = 'upsert'
"""


def customer_changes_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``customer_changes`` with the deterministic EVENT TIME ts =
    epoch + seq seconds (same convention as orders_changes_ts) — the
    timed dim stream the per-row temporal join enriches against."""
    return customer_changes(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.col("seq"))
    )
