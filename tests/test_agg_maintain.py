"""Incremental rollup maintenance (operators/rollup.py +
streaming/agg_maintain.py). The invariant everywhere: delta-folded
state == full recompute over the applied table — the incremental-
view-maintenance contract, also oracle-gated end to end by the
cdc_rollup_orders registry query."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dtle_spark.model import change_schema
from dtle_spark.operators.rollup import (
    merge_rollup,
    rollup_delta,
    rollup_delta_vs_target,
    rollup_of,
)
from dtle_spark.streaming.agg_maintain import AggMaintainJob

ROW = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("amount", T.LongType()),
    ]
)

GROUPS = {"grp": "grp"}
MEASURES = {"amt": "amount"}
SID = "22222222-2222-2222-2222-222222222222"


def _chg(spark, rows):
    return spark.createDataFrame(rows, change_schema(ROW))


def _c(op, before, after, seq):
    return (SID, seq, seq, 0, op, None, "db1", "t", before, after, None)


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], ROW
    )


# the image-CONSISTENT stream: every before equals the state it replaces
CONSISTENT = [
    _c("i", None, (4, "b", 40), 1),
    _c("u", (2, "a", 20), (2, "b", 25), 2),   # group move
    _c("u", (1, "a", 10), (1, "a", 15), 3),   # measure change
    _c("d", (3, "b", 30), None, 4),
    _c("u", (4, "b", 40), (5, "b", 40), 5),   # PK move: rollup-neutral
    _c("i", None, (4, "b", 40), 1),           # redelivered duplicate
]

# the table state after applying CONSISTENT onto _base
FINAL = [(1, "a", 15), (2, "b", 25), (5, "b", 40)]


def _view_dict(df):
    return {r["grp"]: (r["amt"], r["__n"]) for r in df.collect()}


class TestRollupDelta:
    def test_consistent_stream_matches_recompute(self, spark):
        base = _base(spark)
        delta = rollup_delta(
            _chg(spark, CONSISTENT).dropDuplicates(["sid", "gno", "seq"]),
            GROUPS, MEASURES,
        )
        got = merge_rollup(
            rollup_of(base, GROUPS, MEASURES), delta, ["grp"], ["amt"]
        )
        want = rollup_of(spark.createDataFrame(FINAL, ROW), GROUPS, MEASURES)
        assert _view_dict(got) == _view_dict(want)

    def test_vanished_group_is_dropped(self, spark):
        base = _base(spark)
        kill_a = [
            _c("d", (1, "a", 10), None, 1),
            _c("d", (2, "a", 20), None, 2),
        ]
        got = merge_rollup(
            rollup_of(base, GROUPS, MEASURES),
            rollup_delta(_chg(spark, kill_a), GROUPS, MEASURES),
            ["grp"], ["amt"],
        )
        assert _view_dict(got) == {"b": (30, 1)}

    def test_vs_target_handles_stale_interior_images(self, spark):
        # self-conflicting batch: update then delete of the same key,
        # the delete's before-image is the ORIGINAL row (stale)
        base = _base(spark)
        stale = [
            _c("u", (1, "a", 10), (1, "a", 99), 1),
            _c("d", (1, "a", 10), None, 2),  # stale before; seq winner
        ]
        delta = rollup_delta_vs_target(
            base, _chg(spark, stale), ["id"], GROUPS, MEASURES
        )
        got = merge_rollup(
            rollup_of(base, GROUPS, MEASURES), delta, ["grp"], ["amt"]
        )
        want = rollup_of(
            spark.createDataFrame([(2, "a", 20), (3, "b", 30)], ROW),
            GROUPS, MEASURES,
        )
        assert _view_dict(got) == _view_dict(want)

    def test_derived_group_and_measure_exprs(self, spark):
        base = _base(spark)
        groups = {"band": "amount DIV 20"}
        measures = {"amt2": "amount * 2"}
        delta = rollup_delta(
            _chg(spark, [_c("i", None, (9, "z", 20), 1)]), groups, measures
        )
        got = merge_rollup(
            rollup_of(base, groups, measures), delta, ["band"], ["amt2"]
        )
        assert {r["band"]: (r["amt2"], r["__n"]) for r in got.collect()} == {
            0: (20, 1),      # amount 10
            1: (140, 3),     # amounts 20, 30, 20 doubled -> 40+60+40
        }


class TestAggMaintainJob:
    def _job(self, spark, tmp_path, **kw):
        return AggMaintainJob(
            spark,
            str(tmp_path / "src" / "*"),
            str(tmp_path / "view"),
            str(tmp_path / "ck"),
            GROUPS,
            MEASURES,
            schema=change_schema(ROW),
            **kw,
        )

    def test_e2e_and_replay_idempotence(self, spark, tmp_path):
        src = str(tmp_path / "src")
        os.makedirs(src)
        # batch 0 seeds the base as inserts; batch 1 is the scripted stream
        seed = [_c("i", None, r, i) for i, r in enumerate(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
        )]
        _chg(spark, seed).coalesce(1).write.parquet(os.path.join(src, "b0"))
        _chg(spark, CONSISTENT).coalesce(1).write.parquet(os.path.join(src, "b1"))

        job = self._job(spark, tmp_path)
        job.start()
        job.process_available()
        assert job.stats()["ingest_batches"] == 2

        want = rollup_of(spark.createDataFrame(FINAL, ROW), GROUPS, MEASURES)
        assert _view_dict(job.view()) == _view_dict(want)

        # replaying a batch overwrites its own subtree: view unchanged
        job.apply_batch(_chg(spark, CONSISTENT), 1)
        assert job.stats()["ingest_batches"] == 2
        assert _view_dict(job.view()) == _view_dict(want)

    def test_compaction_folds_and_guards_replay(self, spark, tmp_path):
        os.makedirs(str(tmp_path / "src"))
        job = self._job(spark, tmp_path)
        # drive batches through the core directly
        for i in range(5):
            job.apply_batch(_chg(spark, [_c("i", None, (i, "g", i), i)]), i)
        before = _view_dict(job.view())
        assert job.compact(max_batches=2) == 5
        assert job.stats()["generation"] == "gen-1"
        assert job.stats()["ingest_batches"] == 1
        assert _view_dict(job.view()) == before
        # replayed pre-compaction batch: no-op under the watermark
        job.apply_batch(_chg(spark, [_c("i", None, (2, "g", 2), 2)]), 2)
        assert job.stats()["ingest_batches"] == 1
        assert _view_dict(job.view()) == before
        # post-compaction ingest still lands
        job.apply_batch(_chg(spark, [_c("i", None, (9, "h", 90), 9)]), 9)
        got = _view_dict(job.view())
        assert got["h"] == (90, 1) and got["g"] == before["g"]

    def test_zero_balanced_group_survives_compaction(self, spark, tmp_path):
        """A group at net zero when compacted must still cancel later
        retractions' complements — the fold keeps zero rows; only
        view() filters them."""
        os.makedirs(str(tmp_path / "src"))
        job = self._job(spark, tmp_path)
        job.apply_batch(_chg(spark, [_c("i", None, (1, "z", 5), 1)]), 1)
        job.apply_batch(_chg(spark, [_c("d", (1, "z", 5), None, 2)]), 2)
        for i in range(3, 7):
            job.apply_batch(_chg(spark, [_c("i", None, (i, "g", 1), i)]), i)
        assert job.compact(max_batches=2) == 6
        assert "z" not in _view_dict(job.view())
        # group z returns after compaction
        job.apply_batch(_chg(spark, [_c("i", None, (8, "z", 7), 8)]), 8)
        assert _view_dict(job.view())["z"] == (7, 1)

    def test_auto_compact_bounds_delta_subtrees(self, spark, tmp_path):
        """auto_compact_batches: delta subtrees self-bound over a long
        stream (merge-on-read stays O(groups x bound)) with zero manual
        compact() calls; the view still equals the additive recompute."""
        os.makedirs(str(tmp_path / "src"))
        job = self._job(spark, tmp_path, auto_compact_batches=2)
        rows = [(i, ("a", "b")[i % 2], i * 10) for i in range(1, 9)]
        for i, r in enumerate(rows):
            job.apply_batch(_chg(spark, [_c("i", None, r, i + 1)]), i)
            assert job.stats()["ingest_batches"] <= 2, f"batch {i}"
        assert job.stats()["compacted_through"] > 0
        want = rollup_of(spark.createDataFrame(rows, ROW), GROUPS, MEASURES)
        assert _view_dict(job.view()) == _view_dict(want)


class TestSchemaEvolution:
    """The schema_guard contract on the rollup maintainer: additive
    upstream columns are IGNORED (the measures reference only pinned
    columns — and an ignored column's later removal is a non-event),
    while dropping or retyping a pinned column fails loud with the
    rebuild path."""

    def _pinned_job(self, spark, tmp_path):
        job = AggMaintainJob(
            spark, str(tmp_path / "src" / "*"), str(tmp_path / "view"),
            str(tmp_path / "ck"), GROUPS, MEASURES,
            schema=change_schema(ROW),
        )
        job.apply_batch(_chg(spark, [_c("i", None, (1, "a", 10), 1)]), 0)
        return job

    def test_add_column_ignored_then_removed_ok(self, spark, tmp_path):
        wide = T.StructType(ROW.fields + [T.StructField("extra", T.StringType())])
        job = self._pinned_job(spark, tmp_path)
        b = spark.createDataFrame(
            [(SID, 2, 2, 0, "i", None, "db1", "t", None,
              (2, "a", 20, "x"), None)],
            change_schema(wide),
        )
        job.apply_batch(b, 1)
        # back to the original shape: the ignored column's removal is
        # a non-event, and the view accumulated both batches
        job.apply_batch(_chg(spark, [_c("i", None, (3, "b", 30), 3)]), 2)
        assert _view_dict(job.view()) == {"a": (30, 2), "b": (30, 1)}

    def test_dropped_pinned_column_fails_loud(self, spark, tmp_path):
        narrow = T.StructType([f for f in ROW.fields if f.name != "amount"])
        job = self._pinned_job(spark, tmp_path)
        b = spark.createDataFrame(
            [(SID, 2, 2, 0, "i", None, "db1", "t", None, (2, "a"), None)],
            change_schema(narrow),
        )
        with pytest.raises(RuntimeError, match="dropped.*amount"):
            job.apply_batch(b, 1)

    def test_retyped_pinned_column_fails_loud(self, spark, tmp_path):
        retyped = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),  # was long
        ])
        job = self._pinned_job(spark, tmp_path)
        b = spark.createDataFrame(
            [(SID, 2, 2, 0, "i", None, "db1", "t", None,
              (2, "a", 20.0), None)],
            change_schema(retyped),
        )
        with pytest.raises(RuntimeError, match="retyped.*amount"):
            job.apply_batch(b, 1)
        # the store is untouched by the refused batch
        assert _view_dict(job.view()) == {"a": (10, 1)}


def test_manager_agg_job_lifecycle_recover_and_http(spark, tmp_path):
    """The rollup maintainer as the seventh managed job type:
    JobManager create/list/position/pause/resume, recover() on a fresh
    manager (plain-JSON spec incl. the row schema as DDL), and the
    HTTP create route with its missing-field 400."""
    import json
    import urllib.request

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.streaming.http_api import ControlServer
    from dtle_spark.streaming.jobs import JobManager

    src = str(tmp_path / "src")
    os.makedirs(src)
    seed = [_c("i", None, r, i) for i, r in enumerate(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    )]
    _chg(spark, seed).coalesce(1).write.parquet(os.path.join(src, "b0"))

    spec_root = str(tmp_path / "specs")
    mgr = JobManager(spark, spec_root=spec_root)
    aj = mgr.create_job(
        "agg_maintain", "rev-by-grp", source_dir=os.path.join(src, "*"),
        view_root=str(tmp_path / "view"), checkpoint_dir=str(tmp_path / "ck"),
        group_sqls=GROUPS, measure_sqls=MEASURES,
        row_schema_ddl="id long, grp string, amount long",
    )
    aj.process_available()
    st = mgr.list()["rev-by-grp"]
    assert st["type"] == "agg_maintain" and st["ingest_batches"] == 1
    # a raw StructType cannot round-trip the JSON spec: fail at create
    with pytest.raises(ValueError, match="row_schema_ddl"):
        mgr.create_job(
            "agg_maintain", "bad", source_dir=os.path.join(src, "*"),
            view_root=str(tmp_path / "v2"), checkpoint_dir=str(tmp_path / "ck2"),
            group_sqls=GROUPS, measure_sqls=MEASURES,
            schema=change_schema(ROW),
        )
    assert mgr.position("rev-by-grp")["max_ingest_batch"] == 0
    mgr.pause("rev-by-grp")

    # a second batch lands while paused; a FRESH manager recovers from
    # the JSON spec and drains it from the same checkpoint
    _chg(spark, CONSISTENT).coalesce(1).write.parquet(os.path.join(src, "b1"))
    mgr2 = JobManager(spark, spec_root=spec_root)
    assert mgr2.recover(start=False) == ["rev-by-grp"]
    mgr2.resume("rev-by-grp")
    aj2 = mgr2.get("rev-by-grp")
    aj2.process_available()
    want = rollup_of(spark.createDataFrame(FINAL, ROW), GROUPS, MEASURES)
    assert _view_dict(aj2.view()) == _view_dict(want)

    # HTTP create (seventh type) + the missing-field 400
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
            "name": "a1", "type": "agg_maintain",
            "source_dir": os.path.join(src, "*"),
            "view_root": str(tmp_path / "hview"),
            "checkpoint_dir": str(tmp_path / "hck"),
            "group_sqls": GROUPS, "measure_sqls": MEASURES,
        }
        code, err = _http("POST", "/v2/jobs", body)
        assert code == 400 and "row_schema_ddl" in err["error"]
        body["row_schema_ddl"] = "id long, grp string, amount long"
        code, _ = _http("POST", "/v2/jobs", body)
        assert code == 201
        manager.get("a1").process_available()
        assert manager.get("a1").stats()["ingest_batches"] == 2
        code, got = _http("GET", "/v2/job/a1")
        assert code == 200 and got["type"] == "agg_maintain"
    finally:
        server.stop()


def test_malformed_updates_contribute_nothing(spark):
    """An update missing either image is dropped WHOLE — never a
    one-sided delta — matching the apply family's null-image guards,
    so a maintained rollup cannot diverge from the applied table on
    malformed input."""
    malformed = [
        _c("u", None, (7, "a", 70), 1),   # no before
        _c("u", (8, "a", 80), None, 2),   # no after
        _c("i", None, None, 3),           # no after at all
        _c("d", None, None, 4),           # no before at all
    ]
    delta = rollup_delta(_chg(spark, malformed), GROUPS, MEASURES)
    assert delta.count() == 0


class TestMinMaxDirtyGroupLane:
    AGGS = {"lo": ("min", "amount"), "hi": ("max", "amount")}

    def _view(self, df):
        return {r["grp"]: (r["lo"], r["hi"]) for r in df.collect()}

    def test_delete_of_extremum_finds_runner_up(self, spark):
        """The case the delta lanes can't do: deleting a group's MAX
        must surface the runner-up — only a recompute over the group
        knows it. Also: a group untouched by the batch must pass
        through from state (anti-join), and a group whose last row
        deletes vanishes."""
        from dtle_spark.operators.apply import apply_changes
        from dtle_spark.operators.rollup import (
            dirty_groups, maintain_minmax_rollup, minmax_rollup_of,
        )

        base = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 99), (3, "b", 30), (4, "c", 7)], ROW
        )
        batch = [
            _c("d", (2, "a", 99), None, 1),   # delete group a's max
            _c("d", (4, "c", 7), None, 2),    # group c vanishes
        ]
        state = minmax_rollup_of(base, GROUPS, self.AGGS)
        dirty = dirty_groups(base, _chg(spark, batch), ["id"], GROUPS)
        assert {r["grp"] for r in dirty.collect()} == {"a", "c"}
        applied = apply_changes(base, _chg(spark, batch), ["id"])
        got = self._view(
            maintain_minmax_rollup(state, applied, dirty, GROUPS, self.AGGS)
        )
        assert got == {"a": (10, 10), "b": (30, 30)}

    def test_group_move_dirties_both_sides(self, spark):
        """An update that moves a row between groups must dirty BOTH
        the old group (loses the value) and the new one (gains it)."""
        from dtle_spark.operators.apply import apply_changes
        from dtle_spark.operators.rollup import (
            dirty_groups, maintain_minmax_rollup, minmax_rollup_of,
        )

        base = spark.createDataFrame([(1, "a", 50), (2, "b", 5)], ROW)
        batch = [_c("u", (1, "a", 50), (1, "b", 50), 1)]
        state = minmax_rollup_of(base, GROUPS, self.AGGS)
        dirty = dirty_groups(base, _chg(spark, batch), ["id"], GROUPS)
        assert {r["grp"] for r in dirty.collect()} == {"a", "b"}
        applied = apply_changes(base, _chg(spark, batch), ["id"])
        got = self._view(
            maintain_minmax_rollup(state, applied, dirty, GROUPS, self.AGGS)
        )
        assert got == {"b": (5, 50)}

    def test_null_group_value_does_not_duplicate(self, spark):
        """A dirty group whose group VALUE is NULL must behave like
        any other group: the untouched-state anti-join has to use the
        same null-safe struct key as the carve semi-join, or the NULL
        group is recomputed AND its stale state row survives — two
        conflicting rows for one group."""
        from dtle_spark.operators.apply import apply_changes
        from dtle_spark.operators.rollup import (
            dirty_groups, maintain_minmax_rollup, minmax_rollup_of,
        )

        base = spark.createDataFrame(
            [(1, None, 10), (2, None, 99), (3, "b", 30)], ROW
        )
        batch = [_c("d", (2, None, 99), None, 1)]  # delete NULL grp's max
        state = minmax_rollup_of(base, GROUPS, self.AGGS)
        dirty = dirty_groups(base, _chg(spark, batch), ["id"], GROUPS)
        assert [r["grp"] for r in dirty.collect()] == [None]
        applied = apply_changes(base, _chg(spark, batch), ["id"])
        out = maintain_minmax_rollup(state, applied, dirty, GROUPS, self.AGGS)
        rows = out.collect()
        assert len(rows) == 2  # one row per group, no stale duplicate
        assert self._view(out) == {None: (10, 10), "b": (30, 30)}
        assert self._view(out) == self._view(
            minmax_rollup_of(applied, GROUPS, self.AGGS)
        )

    def test_random_streams_match_full_recompute(self, spark):
        """Seeded random streams applied batch-by-batch IN ORDER (the
        dirty-group lane maintains against the evolving target, unlike
        the order-free additive lane): after every batch the
        maintained MIN/MAX view equals the full recompute of the
        applied table."""
        import random

        from dtle_spark.operators.apply import apply_changes
        from dtle_spark.operators.rollup import (
            dirty_groups, maintain_minmax_rollup, minmax_rollup_of,
        )

        rng = random.Random(101)
        alive = {k: (k, rng.choice("abc"), k * 11) for k in range(1, 6)}
        target = spark.createDataFrame(list(alive.values()), ROW)
        state = minmax_rollup_of(target, GROUPS, self.AGGS)
        for batch_no in range(4):
            events = []
            for seq in range(1, 7):
                roll, live = rng.random(), sorted(alive)
                s = batch_no * 10 + seq
                if not live or roll < 0.35:
                    k = rng.randint(1, 40)
                    if k in alive:
                        continue
                    alive[k] = (k, rng.choice("abc"), s * 3)
                    events.append(_c("i", None, alive[k], s))
                elif roll < 0.6:
                    k = rng.choice(live)
                    events.append(_c("d", alive.pop(k), None, s))
                else:
                    k = rng.choice(live)
                    old = alive[k]
                    alive[k] = (k, rng.choice("abc"), old[2] - s)
                    events.append(_c("u", old, alive[k], s))
            if not events:
                continue
            chg = _chg(spark, events)
            dirty = dirty_groups(target, chg, ["id"], GROUPS)
            target = apply_changes(target, chg, ["id"]).localCheckpoint()
            state = maintain_minmax_rollup(
                state, target, dirty, GROUPS, self.AGGS
            ).localCheckpoint()
            assert self._view(state) == self._view(
                minmax_rollup_of(target, GROUPS, self.AGGS)
            ), f"batch {batch_no}"
        assert sorted(map(tuple, target.collect())) == sorted(alive.values())


def test_random_consistent_streams_cross_operator_invariants(spark):
    """Seeded random image-consistent streams, three invariants at
    once, per trial:
      1. rollup: base state + per-batch additive deltas (batches split
         and merged in ARBITRARY order) == rollup of the applied table;
      2. snapshot_diff(base, final) reapplied onto base == final
         (diffs are valid change sets, random edition);
      3. scd2_history's current versions == the applied table, and
         every version row count equals the number of opens."""
    import random

    from dtle_spark.operators.apply import apply_changes
    from dtle_spark.operators.diff import snapshot_diff
    from dtle_spark.operators.scd2 import scd2_history

    rng = random.Random(20260815)
    for trial in range(3):
        alive = {k: (k, rng.choice("ab"), k * 10) for k in range(1, 5)}
        base_rows = list(alive.values())
        events, n_opens = [], 0
        for seq in range(1, 25):
            roll = rng.random()
            live = sorted(alive)
            if not live or roll < 0.25:
                k = rng.randint(1, 60)
                if k in alive:
                    continue
                alive[k] = (k, rng.choice("ab"), seq * 7)
                events.append(_c("i", None, alive[k], seq)); n_opens += 1
            elif roll < 0.45:
                k = rng.choice(live)
                events.append(_c("d", alive.pop(k), None, seq))
            elif roll < 0.6 and any(j not in alive for j in range(1, 61)):
                k = rng.choice(live)  # PK move
                nk = rng.choice([j for j in range(1, 61) if j not in alive])
                old = alive.pop(k)
                alive[nk] = (nk, old[1], old[2])
                events.append(_c("u", old, alive[nk], seq)); n_opens += 1
            else:
                k = rng.choice(live)
                old = alive[k]
                alive[k] = (k, rng.choice("ab"), old[2] + seq)
                events.append(_c("u", old, alive[k], seq)); n_opens += 1

        base = spark.createDataFrame(base_rows, ROW)
        final = apply_changes(base, _chg(spark, events), ["id"])
        want_rows = sorted(map(tuple, final.collect()))
        assert want_rows == sorted(alive.values()), f"trial {trial} sim"

        # 1: rollup additivity under arbitrary batch splits + order
        batches, i = [], 0
        while i < len(events):
            j = i + rng.randint(1, 5)
            batches.append(events[i:j]); i = j
        rng.shuffle(batches)
        state = rollup_of(base, GROUPS, MEASURES)
        for b in batches:
            state = merge_rollup(
                state, rollup_delta(_chg(spark, b), GROUPS, MEASURES),
                ["grp"], ["amt"],
            )
        assert _view_dict(state) == _view_dict(
            rollup_of(final, GROUPS, MEASURES)
        ), f"trial {trial} rollup"

        # 2: diff round trip on random data
        d = snapshot_diff(base, final, ["id"])
        chg = d.select(
            F.lit("s").alias("sid"), F.col("id").alias("gno"),
            F.lit(0).cast("long").alias("seq"), F.lit(0).cast("long").alias("lc"),
            "op", F.lit(None).cast("timestamp").alias("ts"),
            F.lit("db").alias("schema_name"), F.lit("t").alias("table_name"),
            "before", "after", F.lit(None).cast("string").alias("query"),
        )
        got = sorted(map(tuple, apply_changes(base, chg, ["id"]).collect()))
        assert got == want_rows, f"trial {trial} diff"

        # 3: scd2 current == final; version count == opens (+ base seeds)
        h = scd2_history(_chg(spark, events), ["id"], base=base)
        cur = sorted(
            tuple(r["row"]) for r in h.filter("is_current").collect()
        )
        assert cur == want_rows, f"trial {trial} scd2"
        assert h.count() == n_opens + len(base_rows), f"trial {trial} scd2 n"
