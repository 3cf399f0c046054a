"""Streaming SCD2 history maintenance (streaming/history.py): events
per batch, versions on read, closed-fold compaction. The invariant
everywhere: the online history equals scd2_history over all changes
seen (the batch operator the registry gates)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dtle_spark.model import change_schema
from dtle_spark.operators.scd2 import scd2_history
from dtle_spark.streaming.history import Scd2HistoryJob

ROW = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("amount", T.LongType()),
    ]
)
SID = "33333333-3333-3333-3333-333333333333"


def _chg(spark, rows):
    return spark.createDataFrame(rows, change_schema(ROW))


def _c(op, before, after, seq):
    return (SID, seq, seq, 0, op, None, "db1", "t", before, after, None)


BASE = [(1, "a", 10), (2, "a", 20), (3, "b", 30)]

STREAM_A = [
    _c("i", None, (4, "b", 40), 1),
    _c("u", (2, "a", 20), (2, "b", 25), 2),
]
STREAM_B = [
    _c("d", (3, "b", 30), None, 3),
    _c("u", (4, "b", 40), (5, "b", 40), 4),   # PK move
    _c("i", None, (3, "b", 33), 5),           # re-insert after delete
]


def _hist_dict(df):
    return {
        (r["id"], r["valid_from_seq"]): (
            r["valid_to_seq"], r["is_current"],
            r["row"]["amount"] if r["row"] else None,
        )
        for r in df.collect()
    }


def _want(spark):
    base = spark.createDataFrame(BASE, ROW)
    return _hist_dict(
        scd2_history(_chg(spark, STREAM_A + STREAM_B), ["id"], base=base)
    )


def _job(spark, tmp_path, **kw):
    return Scd2HistoryJob(
        spark,
        str(tmp_path / "src" / "*"),
        str(tmp_path / "hist"),
        str(tmp_path / "ck"),
        ["id"],
        schema=change_schema(ROW),
        **kw,
    )


class TestScd2HistoryJob:
    def test_e2e_matches_batch_operator_and_replay(self, spark, tmp_path):
        src = str(tmp_path / "src")
        os.makedirs(src)
        _chg(spark, STREAM_A).coalesce(1).write.parquet(os.path.join(src, "b0"))
        _chg(spark, STREAM_B).coalesce(1).write.parquet(os.path.join(src, "b1"))

        job = _job(spark, tmp_path)
        job.seed(spark.createDataFrame(BASE, ROW))
        job.start()
        job.process_available()
        assert job.stats()["ingest_batches"] == 3  # seed + 2

        want = _want(spark)
        assert _hist_dict(job.history()) == want
        cur = {r["id"] for r in job.current().collect()}
        assert cur == {1, 2, 3, 5}

        # replayed batch overwrites its own subtree: history unchanged
        job.apply_batch(_chg(spark, STREAM_B), 1)
        assert _hist_dict(job.history()) == want

    def test_compaction_folds_closed_and_still_closes_open(self, spark, tmp_path):
        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path)
        job.seed(spark.createDataFrame(BASE, ROW))
        job.apply_batch(_chg(spark, STREAM_A), 0)
        job.apply_batch(_chg(spark, STREAM_B), 1)
        before = _hist_dict(job.history())
        assert job.compact(max_batches=1) == 3
        assert job.stats()["generation"] == "gen-1"
        assert _hist_dict(job.history()) == before

        # a post-compaction close must bound a version opened BEFORE
        # compaction (the retained open event)
        job.apply_batch(_chg(spark, [_c("d", (5, "b", 40), None, 9)]), 9)
        after = _hist_dict(job.history())
        assert after[(5, 4)] == (9, False, 40)
        # replayed pre-compaction batch is a no-op under the watermark
        job.apply_batch(_chg(spark, STREAM_A), 0)
        assert _hist_dict(job.history()) == after

    def test_auto_compact_bounds_event_subtrees(self, spark, tmp_path):
        """auto_compact_batches: a long stream keeps the event-subtree
        count bounded with no manual compact() calls, generations roll,
        and the history still equals the batch operator's recompute —
        including versions opened before one auto-compaction and closed
        after a later one."""
        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path, auto_compact_batches=2)
        job.seed(spark.createDataFrame(BASE, ROW))
        stream = STREAM_A + STREAM_B + [
            _c("i", None, (100 + i, "c", i), 10 + i) for i in range(4)
        ] + [_c("d", (5, "b", 40), None, 20)]
        for i, ev in enumerate(stream):
            job.apply_batch(_chg(spark, [ev]), i)
            assert job.stats()["ingest_batches"] <= 2, f"batch {i}"
        st = job.stats()
        assert st["compacted_through"] > 0
        assert st["generation"].startswith("gen-")
        want = _hist_dict(scd2_history(
            _chg(spark, stream), ["id"],
            base=spark.createDataFrame(BASE, ROW),
        ))
        assert _hist_dict(job.history()) == want
        # the cross-compaction close landed: version (5, open@4) bounded
        assert want[(5, 4)][0] == 20 and not want[(5, 4)][1]


def test_manager_scd2_job_lifecycle_recover_and_http(spark, tmp_path):
    """The eighth managed job type through the whole control plane:
    create/list/position/pause/resume, fresh-manager recover() from
    the plain-JSON spec, HTTP create + missing-field 400."""
    import json
    import urllib.request

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.streaming.http_api import ControlServer
    from dtle_spark.streaming.jobs import JobManager

    src = str(tmp_path / "src")
    os.makedirs(src)
    _chg(spark, STREAM_A).coalesce(1).write.parquet(os.path.join(src, "b0"))

    spec_root = str(tmp_path / "specs")
    mgr = JobManager(spark, spec_root=spec_root)
    hj = mgr.create_job(
        "scd2_history", "orders-history", source_dir=os.path.join(src, "*"),
        history_root=str(tmp_path / "hist"),
        checkpoint_dir=str(tmp_path / "ck"), key_cols=["id"],
        row_schema_ddl="id long, grp string, amount long",
    )
    hj.seed(spark.createDataFrame(BASE, ROW))
    hj.process_available()
    st = mgr.list()["orders-history"]
    assert st["type"] == "scd2_history" and st["ingest_batches"] == 2
    mgr.pause("orders-history")

    _chg(spark, STREAM_B).coalesce(1).write.parquet(os.path.join(src, "b1"))
    mgr2 = JobManager(spark, spec_root=spec_root)
    assert mgr2.recover(start=False) == ["orders-history"]
    mgr2.resume("orders-history")
    hj2 = mgr2.get("orders-history")
    hj2.process_available()
    assert _hist_dict(hj2.history()) == _want(spark)

    # HTTP create (eighth type) + missing-field 400
    manager = JobManager(spark)
    server = ControlServer(manager, SchemaCatalog()).start()
    url = f"http://127.0.0.1:{server.port}"

    def _http(method, path, body=None):
        req = urllib.request.Request(
            url + path, method=method,
            data=json.dumps(body).encode() if body is not None else None,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read() or b"{}")
        except urllib.error.HTTPError as ex:
            return ex.code, json.loads(ex.read() or b"{}")

    try:
        body = {
            "name": "h1", "type": "scd2_history",
            "source_dir": os.path.join(src, "*"),
            "history_root": str(tmp_path / "hhist"),
            "checkpoint_dir": str(tmp_path / "hck"),
            "key_cols": ["id"],
        }
        code, err = _http("POST", "/v2/jobs", body)
        assert code == 400 and "row_schema_ddl" in err["error"]
        body["row_schema_ddl"] = "id long, grp string, amount long"
        code, _ = _http("POST", "/v2/jobs", body)
        assert code == 201
        manager.get("h1").process_available()
        assert manager.get("h1").stats()["ingest_batches"] == 2
        code, got = _http("GET", "/v2/job/h1")
        assert code == 200 and got["type"] == "scd2_history"
    finally:
        server.stop()


class TestAppendOnlyClosedStore:
    def test_second_compaction_does_not_rewrite_prior_folds(self, spark, tmp_path):
        """The 100 TB contract: compaction cost is O(events since the
        last compaction). Prior ``closed/fold=*`` segments must be
        bit-identical after a later compaction — appended once, never
        rewritten — and the derived history still equals the batch
        operator over all changes."""
        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path)
        job.seed(spark.createDataFrame(BASE, ROW))
        job.apply_batch(_chg(spark, STREAM_A), 0)
        job.apply_batch(_chg(spark, STREAM_B), 1)
        assert job.compact(max_batches=1) == 3
        folds1 = job._fold_dirs()
        assert folds1 == ["fold=1"]

        def _fold_files(fold):
            root = os.path.join(str(tmp_path / "hist"), "closed", fold)
            return {
                f: (os.path.getsize(os.path.join(root, f)),
                    os.path.getmtime(os.path.join(root, f)))
                for f in os.listdir(root) if f.endswith(".parquet")
            }

        before_files = _fold_files("fold=1")
        assert before_files  # the first fold actually has segments

        stream_c = [
            _c("d", (5, "b", 40), None, 9),        # closes the PK-move open
            _c("u", (1, "a", 10), (1, "a", 11), 10),
        ]
        job.apply_batch(_chg(spark, stream_c), 2)
        job.apply_batch(_chg(spark, [_c("i", None, (7, "c", 70), 11)]), 3)
        assert job.compact(max_batches=1) == 3  # retained-open + 2 new
        assert job._fold_dirs() == ["fold=1", "fold=3"]
        assert _fold_files("fold=1") == before_files  # untouched on disk

        base = spark.createDataFrame(BASE, ROW)
        want = _hist_dict(scd2_history(
            _chg(spark, STREAM_A + STREAM_B + stream_c
                 + [_c("i", None, (7, "c", 70), 11)]),
            ["id"], base=base,
        ))
        assert _hist_dict(job.history()) == want
        assert job.stats()["closed_folds"] == 2

    def test_orphaned_fold_from_crashed_compaction_is_gcd(self, spark, tmp_path):
        """A fold written by a compaction whose pointer swap never
        landed sits above the committed watermark; the next compact()
        must GC it before writing, or its versions double-count."""
        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path)
        job.seed(spark.createDataFrame(BASE, ROW))
        job.apply_batch(_chg(spark, STREAM_A), 0)
        job.apply_batch(_chg(spark, STREAM_B), 1)
        want = _hist_dict(job.history())

        # simulate the crash: fold segment lands, _CURRENT never swaps
        ev = job._read_events().localCheckpoint()
        from dtle_spark.operators.scd2 import versions_of_events

        versions_of_events(ev, ["id"]).filter("NOT is_current").write.mode(
            "overwrite"
        ).parquet(os.path.join(str(tmp_path / "hist"), "closed", "fold=1"))

        assert job.compact(max_batches=1) == 3  # retries, GCs the orphan
        assert job._fold_dirs() == ["fold=1"]
        assert _hist_dict(job.history()) == want

    def test_orphaned_fold_is_invisible_to_reads(self, spark, tmp_path):
        """Crash window BEFORE the next compact(): the orphan fold's
        versions are still derivable from the old generation's events,
        so a history() read in the window must exclude it (folds above
        the committed watermark are invisible, not merely GC'd later)
        — otherwise every version it holds double-counts."""
        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path)
        job.seed(spark.createDataFrame(BASE, ROW))
        job.apply_batch(_chg(spark, STREAM_A), 0)
        job.apply_batch(_chg(spark, STREAM_B), 1)
        want = _hist_dict(job.history())

        # simulate the crash: fold segment lands, _CURRENT never swaps
        ev = job._read_events().localCheckpoint()
        from dtle_spark.operators.scd2 import versions_of_events

        versions_of_events(ev, ["id"]).filter("NOT is_current").write.mode(
            "overwrite"
        ).parquet(os.path.join(str(tmp_path / "hist"), "closed", "fold=1"))

        # read IN the crash window — no compaction has run yet
        assert _hist_dict(job.history()) == want
        assert job.history().count() == len(want)

    def test_fold_retention_drop_and_exact_reads(self, spark, tmp_path):
        """drop_folds_before: aging out whole closed segments (the
        archival path the append-only store exists for). After the
        drop, as_of reads at/above the recorded floor are EXACT
        (bit-equal to the full-history read), reads below it fail
        loud, and history() returns exactly the retained window."""
        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path)
        job.seed(spark.createDataFrame(BASE, ROW))
        job.apply_batch(_chg(spark, STREAM_A), 0)
        job.apply_batch(_chg(spark, STREAM_B), 1)
        assert job.compact(max_batches=1) == 3
        stream_c = [
            _c("d", (5, "b", 40), None, 9),
            _c("u", (1, "a", 10), (1, "a", 11), 10),
        ]
        job.apply_batch(_chg(spark, stream_c), 2)
        job.apply_batch(_chg(spark, [_c("i", None, (7, "c", 70), 11)]), 3)
        assert job.compact(max_batches=1) == 3
        assert job._fold_dirs() == ["fold=1", "fold=3"]

        full = _hist_dict(job.history())
        want_asof = {
            s: {tuple(r) for r in job.as_of(s).collect()} for s in (4, 9, 10)
        }

        assert job.drop_folds_before(3) == 1
        assert job._fold_dirs() == ["fold=3"]
        # fold=1's max valid_to_seq is 4 (key 4 closed by the PK move)
        assert job.retained_from_seq() == 4
        assert job.stats()["retained_from_seq"] == 4

        # retained window = full history minus the dropped fold's rows
        kept = _hist_dict(job.history())
        assert set(kept) < set(full)
        assert all(full[k] == v for k, v in kept.items())

        # exact at/above the floor
        for s in (4, 9, 10):
            assert {tuple(r) for r in job.as_of(s).collect()} == want_asof[s]
        # refused below it
        with pytest.raises(ValueError, match="retention floor"):
            job.as_of(3)
        # a second drop never lowers the floor
        assert job.drop_folds_before(2) == 0
        assert job.retained_from_seq() == 4

    def test_drop_refuses_null_valid_to_seq(self, spark, tmp_path):
        """A doomed fold row with NULL valid_to_seq (a partially
        written / corrupted segment) makes the retention floor
        unprovable: drop_folds_before must REFUSE — deleting anyway
        would leave no _RETAINED_FROM floor, so the as_of/enrich
        guards would never engage for whatever was dropped."""
        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path)
        job.seed(spark.createDataFrame(BASE, ROW))
        job.apply_batch(_chg(spark, STREAM_A), 0)
        assert job.compact(max_batches=0) >= 1
        folds = job._fold_dirs()
        assert folds
        # corrupt the fold: NULL out valid_to_seq on one row
        root = job._closed_root()
        seg = os.path.join(root, folds[0])
        df = spark.read.parquet(seg)
        broken = df.withColumn(
            "valid_to_seq", F.lit(None).cast("long")
        ).localCheckpoint()
        broken.write.mode("overwrite").parquet(seg)
        with pytest.raises(ValueError, match="NULL"):
            job.drop_folds_before(1 << 40)
        # nothing deleted, no floor written
        assert job._fold_dirs() == folds
        assert job.retained_from_seq() == -(1 << 62)

    def test_event_writes_are_not_single_task(self, spark, tmp_path):
        """The per-batch event subtree is O(batch) — _write_events
        must preserve the events frame's own parallelism (one part
        file per partition), never funnel through a coalesce(1).
        (apply_batch's dedupe shuffle is AQE-sized, so on production
        volumes the frame arrives with many partitions.)"""
        from dtle_spark.operators.scd2 import events_of_changes

        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path)
        many = [
            _c("i", None, (100 + i, "a", i), 100 + i) for i in range(64)
        ]
        events = events_of_changes(_chg(spark, many), ["id"]).repartition(8)
        job._write_events(events, 0)
        subtree = os.path.join(
            str(tmp_path / "hist"), "events", "ingest_batch=0"
        )
        parts = [f for f in os.listdir(subtree) if f.endswith(".parquet")]
        assert len(parts) == 8, parts


def test_seed_after_compaction_fails_loud(spark, tmp_path):
    """A post-compaction re-seed would double-open every seeded key
    (its opens are already folded) — refused at the call."""
    os.makedirs(str(tmp_path / "src"))
    job = _job(spark, tmp_path)
    job.seed(spark.createDataFrame(BASE, ROW))
    job.apply_batch(_chg(spark, STREAM_A), 0)
    job.apply_batch(_chg(spark, STREAM_B), 1)
    assert job.compact(max_batches=1) == 3
    with pytest.raises(ValueError, match="seed after compaction"):
        job.seed(spark.createDataFrame(BASE, ROW))


class TestEnrichRetentionGuard:
    def _timed(self, op, before, after, seq):
        from datetime import datetime, timezone

        ts = datetime.fromtimestamp(seq, tz=timezone.utc)
        return (SID, seq, seq, 0, op, ts, "db1", "t", before, after, None)

    def test_enrich_guards_retention_window(self, spark, tmp_path):
        """Scd2HistoryJob.enrich: per-row temporal enrichment over the
        retained window. Before retention it equals temporal_join over
        the full history; after drop_folds_before, facts BELOW the
        event-time floor fail loud (a left join would silently NULL
        them — indistinguishable from 'key never existed'), facts at
        or above it enrich exactly, and check_window=False is the
        explicit escape."""
        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path)
        job.seed(spark.createDataFrame(BASE, ROW))
        job.apply_batch(_chg(spark, [
            self._timed("i", None, (4, "b", 40), 1),
            self._timed("u", (2, "a", 20), (2, "b", 25), 2),
        ]), 0)
        job.apply_batch(_chg(spark, [
            self._timed("d", (3, "b", 30), None, 3),
            self._timed("u", (4, "b", 40), (5, "b", 40), 4),
        ]), 1)
        assert job.compact(max_batches=1) > 0
        job.apply_batch(_chg(spark, [
            self._timed("u", (1, "a", 10), (1, "a", 11), 10),
        ]), 2)
        job.apply_batch(_chg(spark, [
            self._timed("i", None, (7, "c", 70), 11),
        ]), 3)
        assert job.compact(max_batches=1) > 0

        from datetime import datetime, timezone

        def day(s):
            return datetime.fromtimestamp(s, tz=timezone.utc)

        facts = spark.createDataFrame(
            [(100, 2, day(2)), (101, 2, day(12)), (102, 3, day(12))],
            "fid long, fk long, fts timestamp",
        )
        sel = {"row.amount": "dim_amount"}
        got = {r["fid"]: r["dim_amount"] for r in job.enrich(
            facts, {"fk": "id"}, "fts", sel
        ).collect()}
        assert got == {100: 25, 101: 25, 102: None}  # 3 deleted at ts 3

        dropped = job.drop_folds_before(3)
        assert dropped == 1
        assert job.retained_from_ts_micros() == 4_000_000  # seq-4 close

        # in-window facts still enrich exactly
        ok = spark.createDataFrame(
            [(101, 2, day(12)), (103, 1, day(11))],
            "fid long, fk long, fts timestamp",
        )
        got = {r["fid"]: r["dim_amount"] for r in job.enrich(
            ok, {"fk": "id"}, "fts", sel
        ).collect()}
        assert got == {101: 25, 103: 11}
        # a fact below the floor fails loud...
        with pytest.raises(ValueError, match="retention floor"):
            job.enrich(facts, {"fk": "id"}, "fts", sel)
        # ...unless the caller explicitly takes responsibility
        n = job.enrich(
            facts, {"fk": "id"}, "fts", sel, check_window=False
        ).count()
        assert n == 3

    def test_enrich_refuses_trimmed_untimed_history(self, spark, tmp_path):
        """An UNTIMED store that was retention-trimmed has no ts floor:
        enrich refuses outright rather than guess which facts lost
        their versions."""
        from datetime import datetime, timezone

        os.makedirs(str(tmp_path / "src"))
        job = _job(spark, tmp_path)
        job.seed(spark.createDataFrame(BASE, ROW))
        job.apply_batch(_chg(spark, STREAM_A), 0)
        job.apply_batch(_chg(spark, STREAM_B), 1)
        assert job.compact(max_batches=1) == 3
        job.apply_batch(_chg(spark, [_c("i", None, (7, "c", 70), 11)]), 2)
        assert job.compact(max_batches=1) > 0
        assert job.drop_folds_before(3) >= 1
        facts = spark.createDataFrame(
            [(1, 2, datetime.fromtimestamp(5, tz=timezone.utc))],
            "fid long, fk long, fts timestamp",
        )
        with pytest.raises(ValueError, match="UNTIMED"):
            job.enrich(facts, {"fk": "id"}, "fts", {"row.amount": "a"})
        # the explicit escape still works
        assert job.enrich(
            facts, {"fk": "id"}, "fts", {"row.amount": "a"},
            check_window=False,
        ).count() == 1


class TestHistorySchemaEvolution:
    """schema_guard on the SCD2 maintainer: the row-image schema is
    pinned HARD (on_additive='fail') — a widened image would give
    every open interval a column its opening version never recorded,
    so adopting columns is a re-seed decision, and narrowing/retyping
    fails loud with that rebuild path."""

    def _pinned(self, spark, tmp_path):
        job = _job(spark, tmp_path)
        job.apply_batch(_chg(spark, [_c("i", None, (1, "a", 10), 1)]), 0)
        return job

    def test_added_column_fails_loud(self, spark, tmp_path):
        wide = T.StructType(ROW.fields + [T.StructField("note", T.StringType())])
        job = self._pinned(spark, tmp_path)
        b = spark.createDataFrame(
            [(SID, 2, 2, 0, "i", None, "db1", "t", None,
              (2, "a", 20, "x"), None)],
            change_schema(wide),
        )
        with pytest.raises(RuntimeError, match="no additive policy"):
            job.apply_batch(b, 1)
        # the refused batch left the history untouched
        assert job.history().count() == 1

    def test_dropped_column_fails_loud(self, spark, tmp_path):
        narrow = T.StructType([f for f in ROW.fields if f.name != "amount"])
        job = self._pinned(spark, tmp_path)
        b = spark.createDataFrame(
            [(SID, 2, 2, 0, "i", None, "db1", "t", None, (2, "a"), None)],
            change_schema(narrow),
        )
        with pytest.raises(RuntimeError, match="dropped.*amount"):
            job.apply_batch(b, 1)
