"""End-to-end streaming replication: scripted change stream (3 micro-
batches) applied onto a snapshot — final table state must equal the
DuckDB oracle applying the same logical operations (FIXTURES.md t2)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dtle_spark.catalog import SchemaCatalog
from dtle_spark.model import JobConfig, TableConfig
from dtle_spark.plans import cdc_demo
from dtle_spark.streaming.pipeline import ParquetTableTarget, ReplicationJob
from dtle_spark.streaming.wire import to_wire
from tests.conftest import SF_DIR, assert_matches_oracle


def _orders_catalog(changes) -> SchemaCatalog:
    cat = SchemaCatalog()
    cat.register("db1", "orders", changes.schema["after"].dataType, ["o_orderkey"])
    return cat


@pytest.fixture()
def job_dirs(tmp_path):
    return {
        "source": str(tmp_path / "changes"),
        "target": str(tmp_path / "target"),
        "checkpoint": str(tmp_path / "ckpt"),
    }


def test_stream_apply_matches_oracle(spark, duck, job_dirs):
    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)

    # split the stream into 3 files by seq range -> 3 micro-batches,
    # arriving in seq order (per-key order across batches holds)
    os.makedirs(job_dirs["source"])
    bounds = [(0, 5000), (5000, 10000), (10000, 10**18)]
    for i, (lo, hi) in enumerate(bounds):
        part = to_wire(changes.filter((F.col("seq") >= lo) & (F.col("seq") < hi)))
        part.coalesce(1).write.parquet(os.path.join(job_dirs["source"], f"batch{i}"))

    cfg = TableConfig("db1", "orders", unique_key=["o_orderkey"])
    job = JobConfig(name="t", tables=[cfg])
    target = ParquetTableTarget(job_dirs["target"])
    target.overwrite(base, "db1", "orders")

    rj = ReplicationJob(
        spark, job, os.path.join(job_dirs["source"], "*"), job_dirs["target"],
        job_dirs["checkpoint"], _orders_catalog(changes), max_files_per_trigger=1,
    ).start()
    rj.process_available()
    rj.pause()

    final = target.read(spark, "db1", "orders")
    assert_matches_oracle(final, duck, cdc_demo.ORDERS_CDC_ORACLE)


def test_pause_resume_continues_from_checkpoint(spark, duck, job_dirs):
    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)

    os.makedirs(job_dirs["source"])
    first = to_wire(changes.filter(F.col("seq") < 7000))
    second = to_wire(changes.filter(F.col("seq") >= 7000))
    first.coalesce(1).write.parquet(os.path.join(job_dirs["source"], "b0"))

    cfg = TableConfig("db1", "orders", unique_key=["o_orderkey"])
    job = JobConfig(name="t2", tables=[cfg])
    target = ParquetTableTarget(job_dirs["target"])
    target.overwrite(base, "db1", "orders")

    rj = ReplicationJob(
        spark, job, os.path.join(job_dirs["source"], "*"), job_dirs["target"],
        job_dirs["checkpoint"], _orders_catalog(changes),
    ).start()
    rj.process_available()
    rj.pause()

    # applied-gtid position survives the pause (persisted, not query state)
    from dtle_spark.sources.gtid import GtidSet

    paused_pos = rj.position()["gtid_set"]
    assert paused_pos.startswith(cdc_demo.SID_A)

    # new data arrives while paused; resume must pick up from checkpoint
    second.coalesce(1).write.parquet(os.path.join(job_dirs["source"], "b1"))
    rj.resume()
    rj.process_available()
    assert rj.position()["batch_id"] >= 1
    rj.pause()

    # position grew monotonically and still contains the paused set
    final_pos = rj.position()["gtid_set"]
    assert GtidSet.from_str(final_pos).contains_set(GtidSet.from_str(paused_pos))

    final = target.read(spark, "db1", "orders")
    assert_matches_oracle(final, duck, cdc_demo.ORDERS_CDC_ORACLE)


def test_no_pk_replay_is_idempotent(spark, job_dirs):
    """foreachBatch is at-least-once: a crash between target swap and
    checkpoint commit replays the batch. The counting (no-PK) path
    double-applies without protection — the per-source seq watermark
    (swapped atomically with the table) must make the replay a no-op."""
    from dtle_spark.tableio import load_table
    from dtle_spark.streaming.pipeline import apply_batch

    base = load_table(spark, SF_DIR, "customer")
    changes = cdc_demo.customer_changes(spark, SF_DIR)  # +4000 acctbal per row
    wire = to_wire(changes)

    cfg = TableConfig("db1", "customer")  # no unique_key -> counting path
    job = JobConfig(name="npk", tables=[cfg])
    cat = SchemaCatalog()
    cat.register("db1", "customer", changes.schema["after"].dataType, [])
    target = ParquetTableTarget(job_dirs["target"])
    target.overwrite(base, "db1", "customer")

    apply_batch(spark, wire, job, target, cat)
    snap1 = sorted(
        (r["c_custkey"], r["c_acctbal"])
        for r in target.read(spark, "db1", "customer").collect()
    )
    apply_batch(spark, wire, job, target, cat)  # exact replay
    snap2 = sorted(
        (r["c_custkey"], r["c_acctbal"])
        for r in target.read(spark, "db1", "customer").collect()
    )
    assert snap1 == snap2
    # a genuinely NEW batch (higher seqs) must still apply
    fresh = to_wire(
        changes.filter(F.col("op") == "u").withColumn(
            "seq", F.col("seq") + 1_000_000_000
        )
    )
    apply_batch(spark, fresh, job, target, cat)
    snap3 = sorted(
        (r["c_custkey"], r["c_acctbal"])
        for r in target.read(spark, "db1", "customer").collect()
    )
    assert snap3 != snap2


def test_multi_table_interleaved_tx(spark, job_dirs):
    """FIXTURES F-6: one transaction interleaving two tables — both
    tables' changes land, committed via the cross-table staged swap
    (A6: no half-applied batch across tables)."""
    from pyspark.sql import Row, types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    os.makedirs(job_dirs["source"])
    rows = [
        # tx gno=1 touches t1 then t2 then t1 again
        Row(sid="s1", gno=1, seq=1, lc=0, op="i", ts=None, schema_name="db1",
            table_name="t1", before=None, after='{"id":1,"v":10}', query=None),
        Row(sid="s1", gno=1, seq=2, lc=0, op="i", ts=None, schema_name="db1",
            table_name="t2", before=None, after='{"k":7,"w":"x"}', query=None),
        Row(sid="s1", gno=1, seq=3, lc=0, op="u", ts=None, schema_name="db1",
            table_name="t1", before='{"id":1,"v":10}', after='{"id":1,"v":11}', query=None),
    ]
    spark.createDataFrame(rows, WIRE_SCHEMA).coalesce(1).write.parquet(
        os.path.join(job_dirs["source"], "b0")
    )

    t1_schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.LongType())])
    t2_schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("w", T.StringType())])
    cat = SchemaCatalog()
    cat.register("db1", "t1", t1_schema, ["id"])
    cat.register("db1", "t2", t2_schema, ["k"])
    job = JobConfig(
        "multi",
        [TableConfig("db1", "t1", unique_key=["id"]), TableConfig("db1", "t2", unique_key=["k"])],
    )
    rj = ReplicationJob(
        spark, job, os.path.join(job_dirs["source"], "*"), job_dirs["target"],
        job_dirs["checkpoint"], cat,
    ).start()
    rj.process_available()
    rj.pause()

    target = ParquetTableTarget(job_dirs["target"])
    t1 = {r["id"]: r["v"] for r in target.read(spark, "db1", "t1").collect()}
    t2 = {r["k"]: r["w"] for r in target.read(spark, "db1", "t2").collect()}
    assert t1 == {1: 11} and t2 == {7: "x"}


def test_out_of_order_batch_delivery_converges(spark, duck, job_dirs):
    """Seq-versioned merge end-to-end: the SAME change stream delivered
    in reverse batch order (newest seq range first) must converge to
    the same final state as in-order delivery — each file is written
    only after the previous micro-batch fully applied, so arrival
    order is pinned newest-first."""
    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)

    cfg = TableConfig("db1", "orders", unique_key=["o_orderkey"])
    job = JobConfig(name="t", tables=[cfg])
    target = ParquetTableTarget(job_dirs["target"])
    target.overwrite(base, "db1", "orders")

    os.makedirs(job_dirs["source"])
    rj = ReplicationJob(
        spark, job, os.path.join(job_dirs["source"], "*"), job_dirs["target"],
        job_dirs["checkpoint"], _orders_catalog(changes), max_files_per_trigger=1,
    ).start()

    bounds = [(10000, 10**18), (5000, 10000), (0, 5000)]  # newest first
    for i, (lo, hi) in enumerate(bounds):
        part = to_wire(changes.filter((F.col("seq") >= lo) & (F.col("seq") < hi)))
        part.coalesce(1).write.parquet(os.path.join(job_dirs["source"], f"batch{i}"))
        rj.process_available()
    rj.pause()

    final = target.read(spark, "db1", "orders")
    assert_matches_oracle(final, duck, cdc_demo.ORDERS_CDC_ORACLE)


def test_tx_spanning_batch_atomicity(spark, job_dirs):
    """job.tx_atomic: a tx split across two files must NOT be partially
    visible after the first file; it applies (atomically, across both
    tables) only once a later gno proves its commit. The new frontier
    tx waits in the spool until flush."""
    from pyspark.sql import Row, types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    def wrow(gno, seq, table, after):
        return Row(sid="s1", gno=gno, seq=seq, lc=0, op="i", ts=None,
                   schema_name="db1", table_name=table, before=None,
                   after=after, query=None)

    # tx1 complete in file0; tx2 interleaves t1/t2 and SPANS file0/file1;
    # tx3 (in file1) proves tx2's commit, then itself waits in the spool
    file0 = [
        wrow(1, 1, "t1", '{"id":1,"v":10}'),
        wrow(2, 2, "t1", '{"id":2,"v":20}'),
        wrow(2, 3, "t2", '{"k":2,"w":"a"}'),
    ]
    file1 = [
        wrow(2, 4, "t1", '{"id":3,"v":30}'),
        wrow(3, 5, "t2", '{"k":9,"w":"z"}'),
    ]

    t1_schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.LongType())])
    t2_schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("w", T.StringType())])
    cat = SchemaCatalog()
    cat.register("db1", "t1", t1_schema, ["id"])
    cat.register("db1", "t2", t2_schema, ["k"])
    job = JobConfig(
        "txatomic",
        [TableConfig("db1", "t1", unique_key=["id"]), TableConfig("db1", "t2", unique_key=["k"])],
        tx_atomic=True,
    )
    os.makedirs(job_dirs["source"])
    rj = ReplicationJob(
        spark, job, os.path.join(job_dirs["source"], "*"), job_dirs["target"],
        job_dirs["checkpoint"], cat, max_files_per_trigger=1,
    ).start()
    target = rj.target

    def t1_state():
        df = target.read(spark, "db1", "t1")
        return {} if df is None else {r["id"]: r["v"] for r in df.collect()}

    def t2_state():
        df = target.read(spark, "db1", "t2")
        return {} if df is None else {r["k"]: r["w"] for r in df.collect()}

    spark.createDataFrame(file0, WIRE_SCHEMA).coalesce(1).write.parquet(
        os.path.join(job_dirs["source"], "f0"))
    rj.process_available()
    # tx2 is s1's frontier: none of its rows (in EITHER table) visible
    assert t1_state() == {1: 10} and t2_state() == {}

    spark.createDataFrame(file1, WIRE_SCHEMA).coalesce(1).write.parquet(
        os.path.join(job_dirs["source"], "f1"))
    rj.process_available()
    # gno 3 proves tx2 committed -> tx2 fully applied; tx3 now held
    assert t1_state() == {1: 10, 2: 20, 3: 30} and t2_state() == {2: "a"}

    rj.pause()
    rj.flush_spool()
    assert t2_state() == {2: "a", 9: "z"}


def test_flush_spool_folds_flushed_txs_into_position(spark, job_dirs):
    """flush_spool applies each source's held frontier tx like a
    streamed batch: the flushed txs reach the applied GTID set that
    position() reports (and the task metrics), not just the target."""
    from pyspark.sql import Row, types as T

    from dtle_spark.sources.gtid import GtidSet
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    s1 = "11111111-aaaa-aaaa-aaaa-111111111111"
    s2 = "22222222-bbbb-bbbb-bbbb-222222222222"

    def wrow(sid, gno, seq, after):
        return Row(sid=sid, gno=gno, seq=seq, lc=0, op="i", ts=None,
                   schema_name="db1", table_name="t1", before=None,
                   after=after, query=None)

    rows = [
        wrow(s1, 1, 1, '{"id":1,"v":10}'),
        wrow(s2, 1, 2, '{"id":2,"v":20}'),
        wrow(s1, 2, 3, '{"id":3,"v":30}'),
        wrow(s2, 2, 4, '{"id":4,"v":40}'),
    ]
    cat = SchemaCatalog()
    cat.register("db1", "t1", T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    ), ["id"])
    job = JobConfig("flush", [TableConfig("db1", "t1", unique_key=["id"])],
                    tx_atomic=True)
    os.makedirs(job_dirs["source"])
    spark.createDataFrame(rows, WIRE_SCHEMA).coalesce(1).write.parquet(
        os.path.join(job_dirs["source"], "f0"))
    rj = ReplicationJob(
        spark, job, os.path.join(job_dirs["source"], "*"), job_dirs["target"],
        job_dirs["checkpoint"], cat, max_files_per_trigger=1,
    ).start()
    rj.process_available()
    held = GtidSet.from_str(rj.position()["gtid_set"])
    # each source's last tx is its frontier: held in the spool
    assert held.contains(s1, 1) and not held.contains(s1, 2)
    assert held.contains(s2, 1) and not held.contains(s2, 2)
    applied_before = rj.stats()["exec_tx_count"]

    rj.pause()
    rj.flush_spool()
    applied = GtidSet.from_str(rj.position()["gtid_set"])
    assert applied.contains(s1, 2) and applied.contains(s2, 2)
    assert rj.stats()["exec_tx_count"] == applied_before + 2
    got = {r["id"] for r in rj.target.read(spark, "db1", "t1").collect()}
    assert got == {1, 2, 3, 4}


def test_replication_retry_after_failed_merge_no_duplicate_fields(
    spark, job_dirs, monkeypatch
):
    """The failed-batch in-process retry, replication edition (the
    subscription twin was the r7 ADVICE medium): a post-DDL segment
    merge THROWS, the stream re-runs the batch, and ADD COLUMN must
    land in the catalog exactly once. Before the copy-and-swap fix,
    apply_batch mutated the shared catalog mid-batch, so the retry
    replayed the DDL onto an already-evolved StructType."""
    import json as _json

    from pyspark.sql import Row
    from pyspark.sql import types as T

    import dtle_spark.streaming.pipeline as pl
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    def wire_row(seq, op, after=None, query=None):
        return Row(sid="ab12cd34-0000-1111-2222-333333333333", gno=seq, seq=seq,
                   lc=0, op=op, ts=None, schema_name="db1", table_name="t",
                   before=None, after=after, query=query)

    cat = SchemaCatalog()
    cat.register("db1", "t", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"])
    cfg = TableConfig("db1", "t", unique_key=["id"])
    job = JobConfig(name="rretry", tables=[cfg])
    target = ParquetTableTarget(job_dirs["target"])
    catalog_path = job_dirs["checkpoint"] + "/catalog.json"
    b0 = spark.createDataFrame([
        wire_row(1, "i", after='{"id":1,"v":10}'),
        wire_row(2, "ddl", query="ALTER TABLE db1.t ADD COLUMN c BIGINT"),
        wire_row(3, "i", after='{"id":2,"v":20,"c":7}'),
    ], WIRE_SCHEMA)

    real_merge = pl._merge_segment
    calls = {"n": 0}

    def flaky_merge(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # the post-DDL segment, after cat.apply ran
            raise RuntimeError("injected merge failure")
        return real_merge(*a, **kw)

    monkeypatch.setattr(pl, "_merge_segment", flaky_merge)
    with pytest.raises(RuntimeError, match="injected"):
        pl.apply_batch(spark, b0, job, target, cat,
                       catalog_path=catalog_path, batch_id=0)
    # failed attempt leaves the shared catalog pristine
    assert [f.name for f in cat.get("db1", "t").schema.fields] == ["id", "v"]
    monkeypatch.setattr(pl, "_merge_segment", real_merge)
    # in-process retry of the SAME batch
    pl.apply_batch(spark, b0, job, target, cat,
                   catalog_path=catalog_path, batch_id=0)
    assert [f.name for f in cat.get("db1", "t").schema.fields] == ["id", "v", "c"]
    snap = _json.load(open(catalog_path))
    assert snap["__applied_batch"] == 0
    rows = {r["id"]: (r["v"], r["c"])
            for r in target.read(spark, "db1", "t").collect()}
    assert rows == {1: (10, None), 2: (20, 7)}
    # redelivery with the marker current (crash after save, before the
    # checkpoint commit): catalog.apply must SKIP (no duplicate field)
    # AND apply_ddl_to_target must be a physical no-op — re-running
    # add_column used to re-backfill and WIPE the post-DDL values
    pl.apply_batch(spark, b0, job, target, cat,
                   catalog_path=catalog_path, batch_id=0)
    assert [f.name for f in cat.get("db1", "t").schema.fields] == ["id", "v", "c"]
    rows = {r["id"]: (r["v"], r["c"])
            for r in target.read(spark, "db1", "t").collect()}
    assert rows == {1: (10, None), 2: (20, 7)}, rows


def test_ddl_redelivery_without_catalog_path_no_double_apply(
    spark, job_dirs
):
    """r8 ADVICE low (pipeline.py): the persisted __applied_batch
    marker only exists when a catalog_path is configured. Without one,
    a failure AFTER catalog.restore_from (gtid fold, metrics) retried
    the batch against the already-evolved catalog and re-applied ADD
    COLUMN. The in-memory applied_batch_mem marker on the catalog now
    covers that window: a same-batch redelivery skips cat.apply."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    import dtle_spark.streaming.pipeline as pl
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    def wire_row(seq, op, after=None, query=None):
        return Row(sid="ab12cd34-0000-1111-2222-333333333333", gno=seq,
                   seq=seq, lc=0, op=op, ts=None, schema_name="db1",
                   table_name="t", before=None, after=after, query=query)

    cat = SchemaCatalog()
    cat.register("db1", "t", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"])
    cfg = TableConfig("db1", "t", unique_key=["id"])
    job = JobConfig(name="rnomark", tables=[cfg])
    target = ParquetTableTarget(job_dirs["target"])
    b0 = spark.createDataFrame([
        wire_row(1, "i", after='{"id":1,"v":10}'),
        wire_row(2, "ddl", query="ALTER TABLE db1.t ADD COLUMN c BIGINT"),
        wire_row(3, "i", after='{"id":2,"v":20,"c":7}'),
    ], WIRE_SCHEMA)
    pl.apply_batch(spark, b0, job, target, cat, batch_id=0)  # no catalog_path
    assert [f.name for f in cat.get("db1", "t").schema.fields] == [
        "id", "v", "c"]
    assert cat.applied_batch_mem == 0
    # in-process redelivery of the SAME batch (the post-restore_from
    # failure window): must not raise and must not duplicate the field
    pl.apply_batch(spark, b0, job, target, cat, batch_id=0)
    assert [f.name for f in cat.get("db1", "t").schema.fields] == [
        "id", "v", "c"]
    rows = {r["id"]: (r["v"], r["c"])
            for r in target.read(spark, "db1", "t").collect()}
    assert rows == {1: (10, None), 2: (20, 7)}, rows
    # the NEXT batch's DDL still applies (marker is strictly per-batch)
    b1 = spark.createDataFrame([
        wire_row(4, "ddl", query="ALTER TABLE db1.t ADD COLUMN d BIGINT"),
    ], WIRE_SCHEMA)
    pl.apply_batch(spark, b1, job, target, cat, batch_id=1)
    assert [f.name for f in cat.get("db1", "t").schema.fields] == [
        "id", "v", "c", "d"]
