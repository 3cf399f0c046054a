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
    subscription twin was the r7 ADVICE medium): the DDL table's image
    write THROWS after the planner evolved the catalog copy, the stream
    re-runs the batch, and ADD COLUMN must land in the catalog exactly
    once. Before the copy-and-swap fix, apply_batch mutated the shared
    catalog mid-batch, so the retry replayed the DDL onto an
    already-evolved StructType."""
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

    real_stage_image = target.stage_image

    def flaky_stage_image(*a, **kw):
        # the DDL table's one image write: the planner's cat.apply ran
        raise RuntimeError("injected image write failure")

    monkeypatch.setattr(target, "stage_image", flaky_stage_image)
    with pytest.raises(RuntimeError, match="injected"):
        pl.apply_batch(spark, b0, job, target, cat,
                       catalog_path=catalog_path, batch_id=0)
    # failed attempt leaves the shared catalog pristine
    assert [f.name for f in cat.get("db1", "t").schema.fields] == ["id", "v"]
    monkeypatch.setattr(target, "stage_image", real_stage_image)
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


# -- batch summary, spool generations, parallel staging ----------------------

S1 = "11111111-aaaa-aaaa-aaaa-111111111111"
S2 = "22222222-bbbb-bbbb-bbbb-222222222222"


def _wire(spark, rows):
    """Wire rows from (sid, gno, seq, table, op, image-or-query) tuples;
    an update's payload is its image, or a (before, after) pair."""
    from pyspark.sql import Row

    from dtle_spark.streaming.wire import WIRE_SCHEMA

    out = []
    for sid, gno, seq, table, op, payload in rows:
        before, after = payload if isinstance(payload, tuple) else (payload, payload)
        out.append(Row(
            sid=sid, gno=gno, seq=seq, lc=0, op=op, ts=None, schema_name="db1",
            table_name=table, before=before if op in ("u", "d") else None,
            after=after if op in ("i", "u") else None,
            query=payload if op == "ddl" else None,
        ))
    return spark.createDataFrame(out, WIRE_SCHEMA)


def _keyed_job(name, tables, keyed=True):
    """A tx_atomic job over (id, v) tables, keyed on id unless not ``keyed``."""
    from pyspark.sql import types as T

    key = ["id"] if keyed else []
    cat = SchemaCatalog()
    for t in tables:
        cat.register("db1", t, T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
        ), key)
    job = JobConfig(name, [TableConfig("db1", t, unique_key=key) for t in tables],
                    tx_atomic=True)
    return job, cat


def _one_row_per_table(sid, gnos, tables, seq0=0):
    """Each tx inserts id=gno, v=gno into every table."""
    rows, seq = [], seq0
    for g in gnos:
        for t in tables:
            seq += 1
            rows.append((sid, g, seq, t, "i", f'{{"id":{g},"v":{g}}}'))
    return rows


def _ids(spark, target, table):
    df = target.read(spark, "db1", table)
    return set() if df is None else {r["id"] for r in df.collect()}


def _apply(spark, rj, df, batch_id):
    """One streamed batch of ``rj``, as its foreachBatch runs it."""
    import dtle_spark.streaming.pipeline as pl

    pl.apply_batch(
        spark, df, rj.job, rj.target, rj.catalog, spool=rj.spool,
        gtid_path=rj.gtid_path, metrics=rj.metrics,
        catalog_path=rj.catalog_path, batch_id=batch_id,
    )


@pytest.mark.parametrize("fail_at", ["table_stage", "gtid_save"])
def test_spool_replay_keeps_graduated_tx(spark, job_dirs, monkeypatch, fail_at):
    """A tx_atomic batch that fails after writing its spool must replay
    against the spool it read. Batch 0 holds gno 2; batch 1 (gno 3)
    graduates it and fails once, inside a table's stage or after the
    commits but before the GTID save; the replay must still apply gno 2
    and fold it into the position."""
    from dtle_spark.sources.gtid import GtidSet

    tables = ["t1", "t2"]
    job, cat = _keyed_job("replay", tables)
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)
    _apply(spark, rj, _wire(spark, _one_row_per_table(S1, [1, 2], tables)), 0)
    assert _ids(spark, rj.target, "t1") == {1}

    armed = {"on": True}
    if fail_at == "table_stage":
        real = rj.target.stage_merge

        def flaky(spark_, changes, schema_name, table_name, key_cols):
            if armed["on"] and table_name == "t2":
                armed["on"] = False
                raise RuntimeError("injected failure")
            return real(spark_, changes, schema_name, table_name, key_cols)

        monkeypatch.setattr(rj.target, "stage_merge", flaky)
    else:
        real_save = GtidSet.save

        def flaky_save(self, path):
            if armed["on"]:
                armed["on"] = False
                raise RuntimeError("injected failure")
            return real_save(self, path)

        monkeypatch.setattr(GtidSet, "save", flaky_save)
    b1 = _wire(spark, _one_row_per_table(S1, [3], tables, seq0=10))
    with pytest.raises(RuntimeError, match="injected"):
        _apply(spark, rj, b1, 1)
    _apply(spark, rj, b1, 1)  # the replay of the same batch id
    rj.flush_spool()
    for t in tables:
        assert _ids(spark, rj.target, t) == {1, 2, 3}, t
    assert rj.position()["gtid_set"] == f"{S1}:1-3"


@pytest.mark.parametrize("keyed", [True, False])
def test_flush_after_failed_batch_applies_its_input_generation(
    spark, job_dirs, monkeypatch, keyed
):
    """Batch 0 holds gno 2; batch 1 (gno 3) fails after writing its
    spool generation, and the spool is flushed before batch 1 replays.
    The flush applies gno 2, the tx batch 1's replay reads as held, so
    the position has no gap; the replay then holds gno 3 and the next
    flush applies it. Every tx lands exactly once, also on a no-PK table
    where the flush's seq watermark could drop the older tx."""
    import dtle_spark.streaming.pipeline as pl

    tables = ["t1", "t2"]
    job, cat = _keyed_job("flushfail", tables, keyed=keyed)
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)

    def ids(t):
        return sorted(r["id"] for r in rj.target.read(spark, "db1", t).collect())

    _apply(spark, rj, _wire(spark, _one_row_per_table(S1, [1, 2], tables)), 0)
    real = pl._merge_segment
    armed = {"on": True}

    def flaky(spark_, typed, cfg, job_, target):
        if armed["on"] and cfg.table_name == "t2":
            armed["on"] = False
            raise RuntimeError("injected failure")
        return real(spark_, typed, cfg, job_, target)

    monkeypatch.setattr(pl, "_merge_segment", flaky)
    b1 = _wire(spark, _one_row_per_table(S1, [3], tables, seq0=10))
    with pytest.raises(RuntimeError, match="injected"):
        _apply(spark, rj, b1, 1)
    rj.flush_spool()
    for t in tables:
        assert ids(t) == [1, 2], t
    assert rj.position()["gtid_set"] == f"{S1}:1-2"
    _apply(spark, rj, b1, 1)  # the replay of the same batch id
    for t in tables:
        assert ids(t) == [1, 2], t
    rj.flush_spool()
    for t in tables:
        assert ids(t) == [1, 2, 3], t
    assert rj.position()["gtid_set"] == f"{S1}:1-3"


@pytest.mark.parametrize("resume", [False, True])
def test_flat_layout_spool_is_read_as_input(spark, job_dirs, resume):
    """A checkpoint whose txspool/ is one flat parquet directory (the
    layout before spool generations) still holds its frontier tx: a
    resumed batch graduates it, and flush_spool applies it."""
    from dtle_spark.sources.gtid import GtidSet

    job, cat = _keyed_job("flat", ["t1"])
    spool_dir = os.path.join(job_dirs["checkpoint"], "txspool")
    _wire(spark, _one_row_per_table(S1, [1], ["t1"])).coalesce(1).write.parquet(spool_dir)
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)
    want = {1}
    if resume:
        _apply(spark, rj, _wire(spark, _one_row_per_table(S1, [2], ["t1"], seq0=5)), 4)
        assert _ids(spark, rj.target, "t1") == {1}
        assert rj.position()["gtid_set"] == f"{S1}:1"
        want = {1, 2}
    rj.flush_spool()
    assert _ids(spark, rj.target, "t1") == want
    expected = GtidSet()
    for g in want:
        expected.add(S1, g)
    assert rj.position()["gtid_set"] == expected.to_str()
    # the flushed spool is empty: a second flush applies nothing
    rj.flush_spool()
    assert rj.stats()["exec_tx_count"] == len(want)


def test_failed_table_stage_moves_no_manifest_and_retry_converges(
    spark, job_dirs, monkeypatch
):
    """Tables stage in parallel but commit together: when one of three
    tables' stage raises, the exception propagates, no table's manifest
    moves, and a retry of the batch converges."""
    from dtle_spark.sinks.manifest import TableManifest

    tables = ["a", "b", "c"]
    job, cat = _keyed_job("par", tables)
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)
    rj.target.n_buckets = 4
    _apply(spark, rj, _wire(spark, _one_row_per_table(S1, [1, 2, 3], tables)), 0)

    def manifests():
        out = {}
        for t in tables:
            p = rj.target.path("db1", t)
            out[t] = (TableManifest.load(p).entries, TableManifest.versions(p))
        return out

    before = manifests()
    real = rj.target.stage_merge

    def failing(spark_, changes, schema_name, table_name, key_cols):
        if table_name == "b":
            raise RuntimeError("injected stage failure")
        return real(spark_, changes, schema_name, table_name, key_cols)

    monkeypatch.setattr(rj.target, "stage_merge", failing)
    b1 = _wire(spark, _one_row_per_table(S1, [4, 5], tables, seq0=20))
    with pytest.raises(RuntimeError, match="injected stage failure"):
        _apply(spark, rj, b1, 1)
    assert manifests() == before
    monkeypatch.setattr(rj.target, "stage_merge", real)
    _apply(spark, rj, b1, 1)
    for t in tables:
        assert _ids(spark, rj.target, t) == {1, 2, 3, 4}, t
    assert rj.position()["gtid_set"] == f"{S1}:1-4"



def test_parallel_stage_more_tables_than_workers(spark, job_dirs):
    """More tables than staging threads, with a short thread switch
    interval: every table still gets exactly its own rows (a commit
    closure paired with the wrong table would move one table's image
    into another)."""
    import sys

    tables = [f"t{i}" for i in range(spark.sparkContext.defaultParallelism + 2)]
    job, cat = _keyed_job("stress", tables)
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)
    rj.target.n_buckets = 2
    rows = []
    for i, t in enumerate(tables):
        rows += [(S1, g, 100 * i + g, t, "i", f'{{"id":{100 * i + g},"v":{g}}}')
                 for g in (1, 2, 3)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        _apply(spark, rj, _wire(spark, rows), 0)
    finally:
        sys.setswitchinterval(old)
    for i, t in enumerate(tables):
        assert _ids(spark, rj.target, t) == {100 * i + 1, 100 * i + 2}, t

def _wait_jobs_settled(sc):
    """Job events reach the status store asynchronously."""
    import time

    deadline = time.monotonic() + 10
    while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.3)


def _all_job_ids(sc) -> set[int]:
    it = sc._jsc.sc().statusStore().jobsList(None).iterator()
    out = set()
    while it.hasNext():
        out.add(it.next().jobId())
    return out


def test_streamed_batch_jobs_stay_in_query_group(spark, job_dirs):
    """Every Spark job of a streamed batch, the parallel table stages'
    included, runs in the query's job group (so stop()/pause() cancels
    them), and the worker threads inherit it without the "Tags will not
    be inherited" warning."""
    import warnings

    tables = ["a", "b", "c"]
    job, cat = _keyed_job("group", tables)
    os.makedirs(job_dirs["source"])
    staging = job_dirs["source"] + "-staging"
    rj = ReplicationJob(spark, job, os.path.join(job_dirs["source"], "*"),
                        job_dirs["target"], job_dirs["checkpoint"], cat,
                        max_files_per_trigger=1).start()
    sc = spark.sparkContext
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            for i, gnos in enumerate([[1, 2], [3, 4]]):
                staged = os.path.join(staging, f"f{i}")
                _wire(spark, _one_row_per_table(S1, gnos, tables, seq0=10 * i)).coalesce(
                    1).write.parquet(staged)
                _wait_jobs_settled(sc)
                seen = _all_job_ids(sc)
                os.rename(staged, os.path.join(job_dirs["source"], f"f{i}"))
                rj.process_available()
                _wait_jobs_settled(sc)
                new = _all_job_ids(sc) - seen
                group = set(sc.statusTracker().getJobIdsForGroup(str(rj.query.runId)))
                assert new and new <= group, sorted(new - group)
    finally:
        rj.pause()
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
    assert _ids(spark, rj.target, "c") == {1, 2, 3}


def test_ddl_free_three_table_batch_job_count(spark, job_dirs):
    """A DDL-free 3-table tx_atomic batch issues at most 14 Spark jobs:
    one summary action answers the frontier, DDL, GTID and metrics
    questions, and each table's stage_merge runs three (effects pin
    with the touched-bucket observation, one exchange, the write)."""
    tables = ["a", "b", "c"]
    job, cat = _keyed_job("count", tables)
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)
    rj.target.n_buckets = 8
    sc = spark.sparkContext
    for b in range(3):
        df = _wire(spark, _one_row_per_table(S1, range(10 * b + 1, 10 * b + 11), tables,
                                             seq0=100 * b))
        group = f"repl-job-count-{b}"
        sc.setJobGroup(group, "count apply_batch jobs")
        try:
            _apply(spark, rj, df, b)
        finally:
            sc.setJobGroup(None, None)
    _wait_jobs_settled(sc)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # the third batch: spool non-empty, tables already bucketed
    assert 0 < len(jobs) <= 14, len(jobs)
    assert _ids(spark, rj.target, "a") == set(range(1, 30))


def test_failed_stage_leaves_no_staged_dirs(spark, job_dirs, monkeypatch):
    """A batch whose table stage raises after the other tables staged
    removes what they staged: nothing but the table dirs is left in the
    target schema dir, and no manifest moves."""
    from dtle_spark.sinks.manifest import TableManifest

    tables = ["a", "b", "c"]
    job, cat = _keyed_job("stagedgc", tables)
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)
    rj.target.n_buckets = 4
    _apply(spark, rj, _wire(spark, _one_row_per_table(S1, [1, 2, 3], tables)), 0)
    real = rj.target.stage_merge

    def failing(spark_, changes, schema_name, table_name, key_cols):
        staged = real(spark_, changes, schema_name, table_name, key_cols)
        if table_name == "b":
            raise RuntimeError("injected stage failure")
        return staged

    monkeypatch.setattr(rj.target, "stage_merge", failing)
    before = {t: TableManifest.load(rj.target.path("db1", t)).version for t in tables}
    with pytest.raises(RuntimeError, match="injected stage failure"):
        _apply(spark, rj, _wire(spark, _one_row_per_table(S1, [4, 5], tables, seq0=10)), 1)
    assert sorted(os.listdir(os.path.join(job_dirs["target"], "db1"))) == tables
    assert {t: TableManifest.load(rj.target.path("db1", t)).version for t in tables} == before


def test_batch_bookkeeping_two_sources_held_frontier_and_ddl(spark, job_dirs):
    """stats() and position() after one batch with two sources, each
    source's frontier tx held and one DDL, against hand-computed values."""
    from dtle_spark.sources.gtid import GtidSet

    job, cat = _keyed_job("books", ["t1", "t2"])
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)
    rows = [
        (S1, 1, 1, "t1", "i", '{"id":1,"v":10}'),
        (S1, 1, 2, "t2", "i", '{"id":1,"v":10}'),
        (S1, 2, 3, "t1", "u", '{"id":1,"v":11}'),
        (S1, 3, 4, "t1", "ddl", "ALTER TABLE db1.t1 ADD COLUMN c BIGINT"),
        (S1, 4, 5, "t1", "i", '{"id":2,"v":20,"c":7}'),
        (S1, 4, 6, "t2", "d", '{"id":1,"v":10}'),
        (S1, 5, 7, "t2", "i", '{"id":5,"v":50}'),  # S1's frontier: held
        (S2, 1, 8, "t2", "i", '{"id":3,"v":30}'),
        (S2, 2, 9, "t1", "i", '{"id":3,"v":30}'),  # S2's frontier: held
    ]
    _apply(spark, rj, _wire(spark, rows), 0)
    st = rj.stats()
    assert st["exec_row_count"] == 6
    assert st["exec_tx_count"] == 5
    assert st["applied_seq"] == {S1: 6, S2: 8}
    assert st["table_stats"] == {
        "db1.t1": {"insert_count": 2, "update_count": 1, "del_count": 0, "ddl_count": 1},
        "db1.t2": {"insert_count": 2, "update_count": 0, "del_count": 1, "ddl_count": 0},
    }
    want = GtidSet()
    for sid, gnos in ((S1, [1, 2, 3, 4]), (S2, [1])):
        for g in gnos:
            want.add(sid, g)
    assert rj.position()["gtid_set"] == want.to_str()
    t1 = {r["id"]: (r["v"], r["c"]) for r in rj.target.read(spark, "db1", "t1").collect()}
    assert t1 == {1: (11, None), 2: (20, 7)}
    assert _ids(spark, rj.target, "t2") == {3}


# -- DDL batches on the staged path ------------------------------------------

# kind -> (DDL, post-DDL rows, columns, expected {id: non-key values}).
# Every case runs batch 0 = insert (1, 10), (2, 20), then one batch:
# pre-DDL update id 1 -> v 11 and insert (4, 40), the DDL, the post-DDL
# rows below (insert 3, update 4), and a delete of id 2.
DDL_CASES = {
    "add_default": (
        "ALTER TABLE db1.t ADD COLUMN c BIGINT DEFAULT 5",
        ['{"id":3,"v":30,"c":7}', '{"id":4,"v":41,"c":9}'],
        ["id", "v", "c"], {1: (11, 5), 3: (30, 7), 4: (41, 9)},
    ),
    "drop": (
        "ALTER TABLE db1.t DROP COLUMN v",
        ['{"id":3}', '{"id":4}'],
        ["id"], {1: (), 3: (), 4: ()},
    ),
    "rename": (
        "ALTER TABLE db1.t RENAME COLUMN v TO w",
        ['{"id":3,"w":30}', '{"id":4,"w":41}'],
        ["id", "w"], {1: (11,), 3: (30,), 4: (41,)},
    ),
    "modify": (
        "ALTER TABLE db1.t MODIFY COLUMN v varchar(8)",
        ['{"id":3,"v":"x3"}', '{"id":4,"v":"x4"}'],
        ["id", "v"], {1: ("11",), 3: ("x3",), 4: ("x4",)},
    ),
    "change": (
        "ALTER TABLE db1.t CHANGE v w varchar(8)",
        ['{"id":3,"w":"x3"}', '{"id":4,"w":"x4"}'],
        ["id", "w"], {1: ("11",), 3: ("x3",), 4: ("x4",)},
    ),
    # the truncate wipes batch 0 and the pre-DDL rows; the update of
    # id 4 lands as an upsert
    "truncate": (
        "TRUNCATE TABLE db1.t",
        ['{"id":3,"v":30}', '{"id":4,"v":41}'],
        ["id", "v"], {3: (30,), 4: (41,)},
    ),
}


def _ddl_target(kind, root):
    from dtle_spark.sinks.table_sink import BucketedTableTarget

    return ParquetTableTarget(root) if kind == "parquet" else BucketedTableTarget(root, n_buckets=2)


@pytest.mark.parametrize("target_kind", ["parquet", "bucketed"])
@pytest.mark.parametrize("case", sorted(DDL_CASES))
def test_ddl_kind_matrix_keyed(spark, job_dirs, target_kind, case):
    """Each DDL kind with DML before and after it in one batch folds
    into the keyed table's image: rows and columns as computed by hand."""
    import dtle_spark.streaming.pipeline as pl

    ddl, post, cols, want = DDL_CASES[case]
    job, cat = _keyed_job("matrix", ["t"])
    target = _ddl_target(target_kind, job_dirs["target"])
    b0 = [(S1, 1, 1, "t", "i", '{"id":1,"v":10}'), (S1, 2, 2, "t", "i", '{"id":2,"v":20}')]
    b1 = [
        (S1, 3, 10, "t", "u", '{"id":1,"v":11}'),
        (S1, 4, 11, "t", "i", '{"id":4,"v":40}'),
        (S1, 5, 12, "t", "ddl", ddl),
        (S1, 6, 13, "t", "i", post[0]),
        (S1, 7, 14, "t", "u", post[1]),
        (S1, 8, 15, "t", "d", '{"id":2}'),
    ]
    pl.apply_batch(spark, _wire(spark, b0), job, target, cat, batch_id=0)
    pl.apply_batch(spark, _wire(spark, b1), job, target, cat, batch_id=1)
    got = target.read(spark, "db1", "t")
    assert got.columns == cols
    assert {r["id"]: tuple(r[c] for c in cols[1:]) for r in got.collect()} == want
    assert [f.name for f in cat.get("db1", "t").schema.fields] == cols


@pytest.mark.parametrize("target_kind", ["parquet", "bucketed"])
def test_ddl_add_column_no_pk(spark, job_dirs, target_kind):
    """ADD COLUMN ... DEFAULT between DML on a no-PK table: the counting
    merge and the seq watermark fold over the segments, and post-DDL
    deletes match the backfilled rows."""
    import dtle_spark.streaming.pipeline as pl

    job, cat = _keyed_job("matrix_nopk", ["t"], keyed=False)
    target = _ddl_target(target_kind, job_dirs["target"])
    b0 = [(S1, 1, 1, "t", "i", '{"id":1,"v":10}'), (S1, 2, 2, "t", "i", '{"id":2,"v":20}')]
    b1 = [
        (S1, 3, 10, "t", "u", ('{"id":1,"v":10}', '{"id":1,"v":11}')),
        (S1, 4, 11, "t", "i", '{"id":4,"v":40}'),
        (S1, 5, 12, "t", "ddl", "ALTER TABLE db1.t ADD COLUMN c BIGINT DEFAULT 5"),
        (S1, 6, 13, "t", "i", '{"id":3,"v":30,"c":7}'),
        (S1, 7, 14, "t", "u", ('{"id":4,"v":40,"c":5}', '{"id":4,"v":41,"c":9}')),
        (S1, 8, 15, "t", "d", '{"id":2,"v":20,"c":5}'),
    ]
    pl.apply_batch(spark, _wire(spark, b0), job, target, cat, batch_id=0)
    b1 = _wire(spark, b1)
    pl.apply_batch(spark, b1, job, target, cat, batch_id=1)
    want = [(1, 11, 5), (3, 30, 7), (4, 41, 9)]
    assert sorted(tuple(r) for r in target.read(spark, "db1", "t").collect()) == want
    assert target.seq_watermark("db1", "t") == {S1: 15}
    # a redelivery is dropped by the watermark
    pl.apply_batch(spark, b1, job, target, cat, batch_id=1)
    assert sorted(tuple(r) for r in target.read(spark, "db1", "t").collect()) == want


@pytest.mark.parametrize("stmt", ["RENAME TABLE db1.t TO db1.t2", "DROP TABLE db1.t"])
def test_table_rename_or_drop_ends_its_segments(spark, job_dirs, stmt):
    """RENAME/DROP TABLE of a replicated or subscribed table: the rows
    before the DDL apply (or become frames) and the catalog entry goes;
    a DML row of the table after the DDL fails the batch with a
    ValueError naming the table and the seq, nothing commits and the
    catalog stays pristine."""
    import dtle_spark.streaming.pipeline as pl
    from dtle_spark.streaming.subscription import SubscriptionJob

    job, cat = _keyed_job("gone", ["t"])
    target = ParquetTableTarget(job_dirs["target"])
    rows = [(S1, 1, 1, "t", "i", '{"id":1,"v":1}'), (S1, 2, 2, "t", "ddl", stmt)]
    late = (S1, 3, 3, "t", "i", '{"id":2,"v":2}')
    with pytest.raises(ValueError, match=r"db1\.t \(first at seq 3\)"):
        pl.apply_batch(spark, _wire(spark, rows + [late]), job, target, cat, batch_id=0)
    assert target.read(spark, "db1", "t") is None
    assert cat.get("db1", "t") is not None
    pl.apply_batch(spark, _wire(spark, rows), job, target, cat, batch_id=0)
    assert _ids(spark, target, "t") == {1}
    assert cat.get("db1", "t") is None
    assert (cat.get("db1", "t2") is not None) == stmt.startswith("RENAME")

    # the subscription plans its batch with the same planner
    job, cat = _keyed_job("gone_sub", ["t"])
    sj = SubscriptionJob(spark, job, job_dirs["source"], os.path.join(job_dirs["target"], "sub"),
                         job_dirs["checkpoint"], cat)
    with pytest.raises(ValueError, match=r"db1\.t \(first at seq 3\)"):
        sj.apply_batch(_wire(spark, rows + [late]), 0)
    assert sj.frames() is None
    assert [f.name for f in cat.get("db1", "t").schema.fields] == ["id", "v"]
    assert not os.path.exists(sj.catalog_path)
    sj.apply_batch(_wire(spark, rows), 0)
    frames = sj.frames().collect()
    assert sorted(r["topic"] for r in frames) == ["dtle.db1.t", "schema-changes.dtle"]
    assert [r["key"] for r in frames if r["topic"] == "dtle.db1.t"] == ['{"id":1}']
    assert cat.get("db1", "t") is None
    assert (cat.get("db1", "t2") is not None) == stmt.startswith("RENAME")


@pytest.mark.parametrize("tx_atomic", [False, True])
def test_replication_rejects_dml_sharing_seq_with_ddl(spark, job_dirs, tx_atomic):
    """The replication twin of the subscription seq-clash guard: a DML
    row sharing its seq with a DDL barrier would drop from every
    segment, so the batch fails loud. With tx_atomic the spool's
    redelivery dedupe must keep the row (it differs from the DDL row in
    op) for the check to see it."""
    import dtle_spark.streaming.pipeline as pl

    job, cat = _keyed_job("clash", ["t"])
    target = ParquetTableTarget(job_dirs["target"])
    b0 = _wire(spark, [
        (S1, 1, 1, "t", "i", '{"id":1,"v":10}'),
        (S1, 2, 2, "t", "ddl", "ALTER TABLE db1.t ADD COLUMN c BIGINT"),
        (S1, 2, 2, "t", "i", '{"id":2,"v":20}'),  # seq collides with the DDL
        (S1, 3, 3, "t", "i", '{"id":3,"v":30}'),  # graduates gno 2 from the spool
    ])
    spool = pl.TxSpool(os.path.join(job_dirs["checkpoint"], "txspool")) if tx_atomic else None
    with pytest.raises(ValueError, match="share a seq"):
        pl.apply_batch(spark, b0, job, target, cat, spool=spool, batch_id=0)
    assert target.read(spark, "db1", "t") is None
    assert [f.name for f in cat.get("db1", "t").schema.fields] == ["id", "v"]


def _ddl_batch_rows(ids, ddl_after, seq0):
    """Tx 2*id inserts id into a, b and c; after id ``ddl_after`` the DDL
    tx 2*id+1 adds column c to table a, and a's later rows carry it."""
    rows, seq = [], seq0
    for i in ids:
        for t in ("a", "b", "c"):
            seq += 1
            img = f'{{"id":{i},"v":{i},"c":{10 * i}}}' if t == "a" and i > ddl_after else \
                f'{{"id":{i},"v":{i}}}'
            rows.append((S1, 2 * i, seq, t, "i", img))
        if i == ddl_after:
            seq += 1
            rows.append((S1, 2 * i + 1, seq, "a", "ddl", "ALTER TABLE db1.a ADD COLUMN c BIGINT"))
    return rows


def test_ddl_batch_failed_stage_moves_no_manifest_and_retry_converges(
    spark, job_dirs, monkeypatch
):
    """A DDL batch over three tables stages them all before any commit:
    when a DDL-free table's stage raises, no manifest moves (the DDL
    table's included), the catalog stays pristine, and the retry
    converges with the DDL applied once."""
    from dtle_spark.sinks.manifest import TableManifest

    tables = ["a", "b", "c"]
    job, cat = _keyed_job("ddlpar", tables)
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)
    rj.target.n_buckets = 4
    _apply(spark, rj, _wire(spark, _one_row_per_table(S1, [1, 2, 3], tables)), 0)

    def manifests():
        out = {}
        for t in tables:
            p = rj.target.path("db1", t)
            out[t] = (TableManifest.load(p).entries, TableManifest.versions(p))
        return out

    before = manifests()
    real = rj.target.stage_merge

    def failing(spark_, changes, schema_name, table_name, key_cols):
        if table_name == "b":
            raise RuntimeError("injected stage failure")
        return real(spark_, changes, schema_name, table_name, key_cols)

    monkeypatch.setattr(rj.target, "stage_merge", failing)
    # ids 4, the DDL, 5 and 6; the spool holds id 6's tx
    b1 = _wire(spark, _ddl_batch_rows([4, 5, 6], ddl_after=4, seq0=20))
    with pytest.raises(RuntimeError, match="injected stage failure"):
        _apply(spark, rj, b1, 1)
    assert manifests() == before
    assert [f.name for f in cat.get("db1", "a").schema.fields] == ["id", "v"]
    assert not os.path.exists(rj.catalog_path)
    monkeypatch.setattr(rj.target, "stage_merge", real)
    _apply(spark, rj, b1, 1)
    assert [f.name for f in cat.get("db1", "a").schema.fields] == ["id", "v", "c"]
    a = {r["id"]: r["c"] for r in rj.target.read(spark, "db1", "a").collect()}
    assert a == {1: None, 2: None, 3: None, 4: None, 5: 50}
    for t in ("b", "c"):
        assert _ids(spark, rj.target, t) == {1, 2, 3, 4, 5}, t


def test_ddl_three_table_batch_job_count(spark, job_dirs):
    """A 3-table tx_atomic batch with one ADD COLUMN issues at most 15
    Spark jobs (46 with the sequential barrier loop): the DDL table
    folds into one image write, and the seq-clash check needs no job."""
    tables = ["a", "b", "c"]
    job, cat = _keyed_job("ddlcount", tables)
    rj = ReplicationJob(spark, job, job_dirs["source"], job_dirs["target"],
                        job_dirs["checkpoint"], cat)
    rj.target.n_buckets = 8
    sc = spark.sparkContext
    for b in range(3):
        gnos = range(10 * b + 1, 10 * b + 11)
        rows = (_ddl_batch_rows(gnos, ddl_after=25, seq0=100 * b) if b == 2
                else _one_row_per_table(S1, gnos, tables, seq0=100 * b))
        group = f"repl-ddl-count-{b}"
        sc.setJobGroup(group, "count apply_batch jobs")
        try:
            _apply(spark, rj, _wire(spark, rows), b)
        finally:
            sc.setJobGroup(None, None)
    _wait_jobs_settled(sc)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 15, len(jobs)
    a = {r["id"]: r["c"] for r in rj.target.read(spark, "db1", "a").collect()}
    assert set(a) == set(range(1, 30)) and a[26] == 260 and a[25] is None


@pytest.mark.parametrize("ddl", [False, True])
def test_subscription_three_table_batch_job_count(spark, job_dirs, ddl):
    """A 3-table subscription batch, DML-only or with one ADD COLUMN,
    runs at most 3 Spark jobs: one batch summary plans every table's DDL
    barriers on the driver, and the frames append writes once."""
    from dtle_spark.streaming.subscription import SubscriptionJob

    tables = ["a", "b", "c"]
    job, cat = _keyed_job("subcount", tables)
    sj = SubscriptionJob(spark, job, job_dirs["source"], job_dirs["target"],
                         job_dirs["checkpoint"], cat)
    sc = spark.sparkContext
    for b in range(2):
        gnos = range(10 * b + 1, 10 * b + 11)
        rows = (_ddl_batch_rows(gnos, ddl_after=15, seq0=100 * b) if ddl and b == 1
                else _one_row_per_table(S1, gnos, tables, seq0=100 * b))
        df = _wire(spark, rows)
        group = f"sub-job-count-{ddl}-{b}"
        sc.setJobGroup(group, "count subscription apply_batch jobs")
        try:
            sj.apply_batch(df, b)
        finally:
            sc.setJobGroup(None, None)
    _wait_jobs_settled(sc)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, len(jobs)
    frames = sj.frames().collect()
    assert sum(r["topic"] == "schema-changes.dtle" for r in frames) == int(ddl)
    assert sum(r["topic"] == "dtle.db1.a" for r in frames) == 20
    if ddl:
        import json

        after = {json.loads(r["value"])["after"]["id"]: json.loads(r["value"])["after"]
                 for r in frames if r["topic"] == "dtle.db1.a"}
        assert "c" not in after[15] and after[16]["c"] == 160


def test_subscription_stats_counts_frames_without_a_spark_job(spark, job_dirs):
    """stats()["frames"] is read from the frames log's parquet footers:
    after two appended batches it equals frames().count(), and stats()
    submits no Spark job."""
    from dtle_spark.streaming.subscription import SubscriptionJob

    tables = ["a", "b", "c"]
    job, cat = _keyed_job("substats", tables)
    sj = SubscriptionJob(spark, job, job_dirs["source"], job_dirs["target"],
                         job_dirs["checkpoint"], cat)
    assert sj.stats()["frames"] == 0
    for b in range(2):
        gnos = range(10 * b + 1, 10 * b + 11)
        sj.apply_batch(_wire(spark, _one_row_per_table(S1, gnos, tables, seq0=100 * b)), b)
    sc = spark.sparkContext
    sc.setJobGroup("sub-stats", "count stats() jobs")
    try:
        stats = sj.stats()
    finally:
        sc.setJobGroup(None, None)
    _wait_jobs_settled(sc)
    assert len(sc.statusTracker().getJobIdsForGroup("sub-stats")) == 0
    assert stats["frames"] == sj.frames().count() == 60


def test_batch_with_rows_for_one_table_touches_only_it(spark, job_dirs):
    """Tables with no complete rows in a batch are not staged: on the
    whole-image target, only the table with rows gets a new manifest
    version, and the batch runs at most 6 Spark jobs (18 when every
    table was rewritten)."""
    import dtle_spark.streaming.pipeline as pl
    from dtle_spark.sinks.manifest import TableManifest

    tables = ["a", "b", "c"]
    job, cat = _keyed_job("onetable", tables)
    target = ParquetTableTarget(job_dirs["target"])
    pl.apply_batch(spark, _wire(spark, _one_row_per_table(S1, [1], tables)), job, target,
                   cat, batch_id=0)

    def manifests():
        return {t: (TableManifest.load(target.path("db1", t)).entries,
                    target.versions("db1", t)) for t in tables}

    before = manifests()
    sc = spark.sparkContext
    sc.setJobGroup("repl-one-table", "count apply_batch jobs")
    try:
        pl.apply_batch(spark, _wire(spark, [(S1, 2, 10, "a", "i", '{"id":2,"v":2}')]),
                       job, target, cat, batch_id=1)
    finally:
        sc.setJobGroup(None, None)
    _wait_jobs_settled(sc)
    jobs = sc.statusTracker().getJobIdsForGroup("repl-one-table")
    after = manifests()
    assert after["b"] == before["b"] and after["c"] == before["c"]
    assert after["a"] != before["a"]
    assert _ids(spark, target, "a") == {1, 2}
    assert 0 < len(jobs) <= 6, len(jobs)
