"""Advisory writer lease (sinks/lease.py): the cross-process backstop
for the quiesce contracts. Manifest swaps are atomic for READERS; two
WRITERS doing load-modify-save lose one update silently (the r12
incident: HTTP purge racing a foreachBatch append erased the append
and GC'd its committed segment). The lease makes the second writer
fail LOUD instead."""

from __future__ import annotations

import json
import os
import threading

import pytest

from dtle_spark.sinks.lease import LEASE_FILE, writer_lease


def _foreign_lease(root: str, pid: int = 1) -> None:
    """A lease held by another LIVE process (pid 1 is always alive)."""
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, LEASE_FILE), "w") as f:
        json.dump({"pid": pid, "thread": 0, "owner": "other", "ts": 0}, f)


def test_lease_reentrant_same_thread(tmp_path):
    root = str(tmp_path / "store")
    with writer_lease(root, "outer"):
        assert os.path.exists(os.path.join(root, LEASE_FILE))
        with writer_lease(root, "nested-chore"):  # auto-compact pattern
            pass
        # inner exit must NOT drop the outer hold
        assert os.path.exists(os.path.join(root, LEASE_FILE))
    assert not os.path.exists(os.path.join(root, LEASE_FILE))


def test_lease_second_thread_fails_loud(tmp_path):
    """The incident class: an HTTP thread racing the foreachBatch
    thread of the SAME process is two writers, not one."""
    root = str(tmp_path / "store")
    held = threading.Event()
    release = threading.Event()

    def holder():
        with writer_lease(root, "foreachBatch"):
            held.set()
            release.wait(timeout=30)

    t = threading.Thread(target=holder)
    t.start()
    try:
        assert held.wait(timeout=30)
        with pytest.raises(RuntimeError, match="writer lease held"):
            with writer_lease(root, "http-purge"):
                pass
    finally:
        release.set()
        t.join()
    with writer_lease(root, "after"):  # released: next writer proceeds
        pass


def test_lease_dead_holder_self_breaks(tmp_path):
    """A crashed writer must not wedge the store: the swap's atomicity
    left it consistent, so a lease with a dead pid is broken and
    re-taken."""
    root = str(tmp_path / "store")
    _foreign_lease(root, pid=2 ** 22 + 7919)  # beyond pid_max: dead
    with writer_lease(root, "survivor"):
        with open(os.path.join(root, LEASE_FILE)) as f:
            assert json.load(f)["owner"] == "survivor"


def test_append_and_chores_refuse_under_foreign_lease(spark, tmp_path):
    """The wired entry points: append, commit (via overwrite),
    purge_keys, compact_segments and tombstone compact on a leased
    table all fail loud instead of racing the manifest swap — and
    proceed once the lease is gone."""
    from dtle_spark.sinks.table_sink import BucketedTableTarget, ParquetTableTarget

    t = ParquetTableTarget(str(tmp_path))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    t.append(df, "s", "tbl")
    p = t.path("s", "tbl")
    bt = BucketedTableTarget(str(tmp_path / "bucketed"), n_buckets=2)
    bt.seed(df, "s", "tbl", ["id"])
    _foreign_lease(bt.path("s", "tbl"))
    with pytest.raises(RuntimeError, match="writer lease held"):
        bt.compact(spark, "s", "tbl", 10**18)

    _foreign_lease(p)
    with pytest.raises(RuntimeError, match="writer lease held"):
        t.append(df, "s", "tbl")
    with pytest.raises(RuntimeError, match="writer lease held"):
        t.overwrite(df, "s", "tbl")
    with pytest.raises(RuntimeError, match="writer lease held"):
        t.purge_keys(
            spark, "s", "tbl", "id",
            spark.createDataFrame([(1,)], "id long"),
        )
    with pytest.raises(RuntimeError, match="writer lease held"):
        t.compact_segments(spark, "s", "tbl", max_segments=0)
    with pytest.raises(RuntimeError, match="writer lease held"):
        t.compact(spark, "s", "tbl", 10**18)
    # the refused writers left the table intact
    assert t.read(spark, "s", "tbl").count() == 1

    os.remove(os.path.join(p, LEASE_FILE))
    t.append(df.selectExpr("2 AS id", "v"), "s", "tbl")
    assert t.read(spark, "s", "tbl").count() == 2


def test_gc_preserves_held_lease(tmp_path):
    """r13 advice (high): gc_unreferenced runs INSIDE writer_lease
    sections, and its keep-set was manifest/history/live-entries only —
    it deleted the held _WRITER_LEASE, a second writer acquired
    mid-critical-section, and the first holder's release then deleted
    the SECOND writer's lease. The lease control files must survive
    every gc sweep."""
    from dtle_spark.sinks.lease import LEASE_MUTEX
    from dtle_spark.sinks.manifest import TableManifest, gc_unreferenced

    root = str(tmp_path / "store")
    with writer_lease(root, "committer"):
        os.makedirs(os.path.join(root, "orphan-dir"))
        gc_unreferenced(root, TableManifest())
        assert os.path.exists(os.path.join(root, LEASE_FILE))
        assert not os.path.exists(os.path.join(root, "orphan-dir"))
        # still excluded: a second writer keeps failing loud after gc
        errs = []

        def racer():
            try:
                with writer_lease(root, "racer"):
                    errs.append("racer acquired a HELD lease")
            except RuntimeError:
                pass  # the loud refusal is the correct outcome

        t = threading.Thread(target=racer)
        t.start()
        t.join()
        assert not errs, errs
    assert not os.path.exists(os.path.join(root, LEASE_FILE))
    assert os.path.exists(os.path.join(root, LEASE_MUTEX))  # mutex persists


def test_release_is_ownership_checked(tmp_path):
    """If the holder's lease file was usurped (the pre-fix gc cascade:
    swept, then re-taken by another writer), the original holder's exit
    must NOT delete the usurper's lease."""
    root = str(tmp_path / "store")
    with writer_lease(root, "victim"):
        _foreign_lease(root)  # usurper's live lease replaces ours
    with open(os.path.join(root, LEASE_FILE)) as f:
        assert json.load(f)["owner"] == "other"  # survived victim's exit
    os.remove(os.path.join(root, LEASE_FILE))


def test_stale_break_is_race_free(tmp_path):
    """r13 advice (medium): the read-then-remove stale break let two
    writers both observe a dead holder and writer B delete writer C's
    FRESH lease. The break now runs under a per-root flock, so N
    threads hammering a stale lease yield exactly one holder at a time
    — ever."""
    root = str(tmp_path / "store")
    holders = []
    lock = threading.Lock()
    errs = []

    def contender(i):
        for _ in range(5):
            try:
                with writer_lease(root, f"w{i}"):
                    with lock:
                        holders.append(i)
                        if len(holders) > 1:
                            errs.append(f"two holders: {holders}")
                    with lock:
                        holders.remove(i)
            except RuntimeError:
                pass  # someone else held it: correct loud refusal

    _foreign_lease(root, pid=2 ** 22 + 7919)  # dead pid: stale
    ts = [threading.Thread(target=contender, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs


def test_index_chores_refuse_under_foreign_lease(spark, tmp_path):
    """compact_index / reindex / purge_index_ids take the index_root
    lease; the maintain job's apply_batch holds it per batch (with
    auto-fold re-entering on the same thread)."""
    from dtle_spark.streaming.ann_serving import compact_index

    index_root = str(tmp_path / "index")
    _foreign_lease(index_root)
    with pytest.raises(RuntimeError, match="writer lease held"):
        compact_index(spark, index_root)
