"""BucketedTableTarget: per-batch merges touch only affected buckets,
final state identical to the whole-table merge path."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dtle_spark.model import OP_INSERT
from dtle_spark.plans import cdc_demo
from dtle_spark.sinks.table_sink import BucketedTableTarget
from tests.conftest import SF_DIR, assert_matches_oracle


def test_bucketed_merge_matches_oracle(spark, duck, tmp_path):
    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)

    t = BucketedTableTarget(str(tmp_path / "tgt"), n_buckets=16)
    t.seed(base, "db1", "orders", ["o_orderkey"])
    assert t.read(spark, "db1", "orders").count() == base.count()

    # apply in two batches; track touched buckets
    for lo, hi in [(0, 8000), (8000, 10**18)]:
        part = changes.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
        touched = t.merge(spark, part, "db1", "orders", ["o_orderkey"])
        assert 0 < len(touched) <= 16

    final = t.read(spark, "db1", "orders")
    assert_matches_oracle(final, duck, cdc_demo.ORDERS_CDC_ORACLE)


def test_small_batch_touches_few_buckets(spark, tmp_path):
    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)

    t = BucketedTableTarget(str(tmp_path / "tgt"), n_buckets=64)
    t.seed(base, "db1", "orders", ["o_orderkey"])

    # a 3-key batch must touch <= 3 of 64 buckets
    tiny = changes.orderBy("seq").limit(3)
    touched = t.merge(spark, tiny, "db1", "orders", ["o_orderkey"])
    assert 1 <= len(touched) <= 3

    # untouched buckets' data must be intact: total = base +- net effect
    n = t.read(spark, "db1", "orders").count()
    assert abs(n - base.count()) <= 3


def test_streaming_job_with_bucketed_target(spark, duck, tmp_path):
    """End-to-end: ReplicationJob wired to the bucketed target."""
    import os
    from pyspark.sql import functions as F

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.streaming.pipeline import ReplicationJob
    from dtle_spark.streaming.wire import to_wire

    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, (lo, hi) in enumerate([(0, 8000), (8000, 10**18)]):
        to_wire(changes.filter((F.col("seq") >= lo) & (F.col("seq") < hi))).coalesce(
            1
        ).write.parquet(f"{src}/b{i}")

    target = BucketedTableTarget(str(tmp_path / "tgt"), n_buckets=16)
    target.seed(base, "db1", "orders", ["o_orderkey"])

    cat = SchemaCatalog()
    cat.register("db1", "orders", changes.schema["after"].dataType, ["o_orderkey"])
    cfg = TableConfig("db1", "orders", unique_key=["o_orderkey"])
    rj = ReplicationJob(
        spark, JobConfig("bj", [cfg]), f"{src}/*", str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"), cat, max_files_per_trigger=1, target=target,
    ).start()
    rj.process_available()
    rj.pause()

    assert_matches_oracle(target.read(spark, "db1", "orders"), duck, cdc_demo.ORDERS_CDC_ORACLE)


def test_bucketed_reverse_order_delivery_converges(spark, duck, tmp_path):
    """Out-of-order delivery: batches applied in REVERSE seq order must
    converge to the same oracle state (seq-versioned merge per bucket —
    the whole-table path's guarantee, now on the scale path)."""
    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)

    t = BucketedTableTarget(str(tmp_path / "tgt"), n_buckets=16)
    t.seed(base, "db1", "orders", ["o_orderkey"])

    # three seq slices, applied newest-first
    bounds = [(20000, 10**18), (8000, 20000), (0, 8000)]
    for lo, hi in bounds:
        part = changes.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
        t.merge(spark, part, "db1", "orders", ["o_orderkey"])

    assert_matches_oracle(t.read(spark, "db1", "orders"), duck, cdc_demo.ORDERS_CDC_ORACLE)


def test_bucketed_untouched_buckets_byte_identical(spark, tmp_path):
    """A merge must not rewrite (or even re-open) buckets the batch does
    not touch: their dirs stay byte-for-byte identical."""
    import hashlib
    import os

    def dir_digest(p):
        h = hashlib.md5()
        for root, _, files in sorted(os.walk(p)):
            for f in sorted(files):
                fp = os.path.join(root, f)
                h.update(f.encode())
                with open(fp, "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    from dtle_spark.sinks.manifest import TableManifest

    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)
    t = BucketedTableTarget(str(tmp_path / "tgt"), n_buckets=16)
    t.seed(base, "db1", "orders", ["o_orderkey"])
    tdir = t.table_dir("db1", "orders")

    def entries():
        return TableManifest.load(tdir).entries

    before = {b: dir_digest(os.path.join(tdir, d)) for b, d in entries().items()}
    before_names = dict(entries())
    tiny = changes.orderBy("seq").limit(3)
    touched = t.merge(spark, tiny, "db1", "orders", ["o_orderkey"])
    after_names = entries()
    assert 1 <= len(touched) <= 3
    for b, d in after_names.items():
        if int(b) not in touched:
            # untouched bucket: same immutable dir, byte-identical
            assert d == before_names[b], f"untouched bucket {b} repointed"
            assert dir_digest(os.path.join(tdir, d)) == before[b]
    # no staged debris next to the table, no unreferenced dirs inside it
    parent = os.path.dirname(tdir)
    assert not [p for p in os.listdir(parent) if ".merge-" in p or ".old-" in p]
    # live = current entries + retained time-travel versions' dirs
    live = set(after_names.values())
    for v in TableManifest.versions(tdir):
        live.update(TableManifest.load_version(tdir, v).entries.values())
    assert not [
        n
        for n in os.listdir(tdir)
        if n not in ("_manifest.json", "_history") and n not in live
        and not n.startswith("_WRITER_LEASE")  # lease control files persist
    ]


def test_compaction_drops_only_expired_tombstones(spark, tmp_path):
    """Tombstone GC: tombstones below the re-delivery horizon go, live
    rows and newer tombstones stay, buckets without expired tombstones
    are not rewritten, and a late stale change for a compacted key is
    now applied (the guard is gone — horizon choice is the contract)."""
    import os

    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)
    t = BucketedTableTarget(str(tmp_path / "tgt"), n_buckets=16)
    t.seed(base, "db1", "orders", ["o_orderkey"])
    t.merge(spark, changes, "db1", "orders", ["o_orderkey"])

    raw = t.read_internal(spark, "db1", "orders")
    tombs = raw.filter(F.col("__deleted"))
    n_tombs = tombs.count()
    assert n_tombs > 0
    seqs = sorted(r["__seq"] for r in tombs.select("__seq").collect())
    horizon = seqs[len(seqs) // 2]  # half expire

    live_before = t.read(spark, "db1", "orders").count()
    dropped = t.compact(spark, "db1", "orders", horizon)
    assert dropped == sum(1 for s in seqs if s < horizon)
    after = t.read_internal(spark, "db1", "orders")
    assert after.filter(F.col("__deleted")).count() == n_tombs - dropped
    assert t.read(spark, "db1", "orders").count() == live_before
    # idempotent: second pass with the same horizon drops nothing
    assert t.compact(spark, "db1", "orders", horizon) == 0
    # no debris
    parent = os.path.dirname(t.table_dir("db1", "orders"))
    assert not [p for p in os.listdir(parent) if ".old-" in p or ".compact-" in p]


def test_whole_table_target_compaction(spark, tmp_path):
    from dtle_spark.streaming.pipeline import ParquetTableTarget
    from dtle_spark.operators.apply import latest_image_per_key, merge_into_versioned, with_version_columns

    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)
    t = ParquetTableTarget(str(tmp_path / "tgt"))
    net = latest_image_per_key(changes, ["o_orderkey"])
    merged = merge_into_versioned(with_version_columns(base), net, ["o_orderkey"])
    t.overwrite(merged, "db1", "orders")

    raw = t.read_internal(spark, "db1", "orders")
    n_tombs = raw.filter(F.col("__deleted")).count()
    assert n_tombs > 0
    live = t.read(spark, "db1", "orders").count()
    dropped = t.compact(spark, "db1", "orders", 10**18)  # everything expired
    assert dropped == n_tombs
    assert t.read(spark, "db1", "orders").count() == live
    assert t.read_internal(spark, "db1", "orders").filter(F.col("__deleted")).count() == 0


def test_compaction_holds_the_lease_against_a_concurrent_merge(spark, tmp_path, monkeypatch):
    """A merge that commits while a compaction is between its read and
    its swap is refused ("writer lease held"), and the compaction's swap
    then publishes the compacted rows. Without the lease the merge's GC
    deleted the compaction's new bucket dir, and the swap pointed the
    live manifest at it."""
    import threading

    from pyspark.sql import DataFrameWriter

    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)
    t = BucketedTableTarget(str(tmp_path / "tgt"), n_buckets=1)
    t.seed(base, "db1", "orders", ["o_orderkey"])
    t.merge(spark, changes, "db1", "orders", ["o_orderkey"])
    expected = sorted(map(tuple, t.read(spark, "db1", "orders").collect()))

    paused, resume = threading.Event(), threading.Event()
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):  # the compaction's staged write
        real_parquet(self, path, *a, **k)
        if threading.current_thread() is compactor:
            paused.set()
            resume.wait(timeout=120)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    errors = []

    def compact():
        try:
            t.compact(spark, "db1", "orders", 10**18)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    compactor = threading.Thread(target=compact)
    compactor.start()
    try:
        assert paused.wait(timeout=120)
        insert = changes.filter(F.col("op") == OP_INSERT).orderBy("seq").limit(1)
        with pytest.raises(RuntimeError, match="writer lease held"):
            t.merge(spark, insert.withColumn("seq", F.lit(10**12)), "db1", "orders",
                    ["o_orderkey"])
    finally:
        resume.set()
        compactor.join(timeout=300)
    assert not compactor.is_alive() and not errors
    got = t.read(spark, "db1", "orders")
    assert got is not None
    assert sorted(map(tuple, got.collect())) == expected
    # the refused merge's staged dir went with its commit
    assert os.listdir(tmp_path / "tgt" / "db1") == ["orders"]


def test_missing_bucket_dir_fails_loudly(spark, tmp_path):
    """A manifest entry whose data dir is gone fails every read and the
    merge with the table and the entry named, instead of reading (and
    then committing) the table without that bucket's rows."""
    from dtle_spark.sinks.manifest import TableManifest

    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)
    t = BucketedTableTarget(str(tmp_path / "tgt"), n_buckets=4)
    t.seed(base, "db1", "orders", ["o_orderkey"])
    p = t.path("db1", "orders")
    m = TableManifest.load(p)
    gone = sorted(m.entries.values())[0]
    shutil.rmtree(os.path.join(p, gone))
    for read in (lambda: t.read(spark, "db1", "orders"),
                 lambda: t.read_at_version(spark, "db1", "orders", m.version),
                 lambda: t.merge(spark, changes, "db1", "orders", ["o_orderkey"])):
        with pytest.raises(FileNotFoundError, match=f"orders.*{gone}"):
            read()
    assert TableManifest.load(p).version == m.version
    assert os.listdir(tmp_path / "tgt" / "db1") == ["orders"]


def test_buckets_without_one_footer_schema_still_read_and_merge(spark, tmp_path):
    """Bucket reads take the schema Spark wrote into the parquet
    footers, so seed and merge writes keep one schema. Buckets whose
    footers differ (here one bucket rewritten with its columns in
    another order) make reads merge the files' schemas instead; the
    table reads and merges exactly like one whose buckets agree."""
    from dtle_spark.sinks.manifest import TableManifest
    from dtle_spark.sinks.table_sink import _footer_schema

    base = cdc_demo.orders_base(spark, SF_DIR)
    changes = cdc_demo.orders_changes(spark, SF_DIR)
    t = BucketedTableTarget(str(tmp_path / "tgt"), n_buckets=8)
    for table in ("agreed", "mixed"):
        t.seed(base, "db1", table, ["o_orderkey"])

    def dirs(table):
        p = t.path("db1", table)
        return TableManifest.load(p).dirs(p)

    def rows(table):
        df = t.read_internal(spark, "db1", table)
        return sorted(str(sorted(r.asDict().items())) for r in df.collect())

    bucket = dirs("mixed")[0]
    cols = spark.read.parquet(bucket).columns
    spark.read.parquet(bucket).select(*reversed(cols)).write.parquet(str(tmp_path / "re"))
    shutil.rmtree(bucket)
    os.rename(tmp_path / "re", bucket)
    assert _footer_schema(dirs("mixed")) is None
    assert rows("mixed") == rows("agreed")
    for lo, hi in [(0, 8000), (8000, 10**18)]:
        part = changes.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
        for table in ("agreed", "mixed"):
            t.merge(spark, part, "db1", table, ["o_orderkey"])
    schema = _footer_schema(dirs("agreed"))
    assert schema is not None
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields[-2:]] == [
        ("__seq", "bigint"), ("__deleted", "boolean")
    ]
    assert rows("mixed") == rows("agreed")
