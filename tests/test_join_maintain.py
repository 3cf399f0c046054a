"""Streaming join-view maintenance (streaming/join_maintain.py). The
invariant everywhere: after every processed batch, ``job.view()``
equals ``join_view_of(applied facts, current dim)`` — with O(Δ)
per-batch writes, digest-derived dim dirt, replay idempotence, and
compaction behind the atomic generation pointer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dtle_spark.model import change_schema
from dtle_spark.operators.apply import apply_changes
from dtle_spark.operators.join_view import join_view_of
from dtle_spark.streaming.join_maintain import JoinViewMaintainJob

FACT = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("cust", T.LongType()),
        T.StructField("amount", T.LongType()),
    ]
)
DIM_COLS = {"name": "cust_name", "tier": "cust_tier"}
SID = "44444444-4444-4444-4444-444444444444"

BASE_FACTS = [(1, 10, 100), (2, 20, 200), (3, None, 300)]
BASE_DIM = [(10, "alice", "gold"), (20, "bob", "base")]


def _chg(spark, rows):
    return spark.createDataFrame(rows, change_schema(FACT))


def _c(op, before, after, seq):
    return (SID, seq, seq, 0, op, None, "db1", "t", before, after, None)


def _dim_df(spark, rows):
    return spark.createDataFrame(rows, "cid long, name string, tier string")


def _view(df):
    return sorted(map(tuple, df.collect()))


def _recompute(spark, facts_rows, dim_rows):
    return join_view_of(
        spark.createDataFrame(facts_rows, FACT),
        _dim_df(spark, dim_rows),
        "cust", "cid", DIM_COLS,
    )


class TestJoinViewMaintainJob:
    def _job(self, spark, tmp_path, **kw):
        return JoinViewMaintainJob(
            spark,
            str(tmp_path / "src" / "*"),
            str(tmp_path / "dim"),
            str(tmp_path / "view"),
            str(tmp_path / "ck"),
            ["id"],
            "cust",
            "cid",
            DIM_COLS,
            schema=change_schema(FACT),
            **kw,
        )

    def _seeded(self, spark, tmp_path, **kw):
        _dim_df(spark, BASE_DIM).write.mode("overwrite").parquet(
            str(tmp_path / "dim")
        )
        job = self._job(spark, tmp_path, **kw)
        dim = _dim_df(spark, BASE_DIM)
        job.seed(
            join_view_of(
                spark.createDataFrame(BASE_FACTS, FACT), dim,
                "cust", "cid", DIM_COLS,
            ),
            dim,
        )
        return job

    def test_seed_roundtrip_and_refuse_reseed(self, spark, tmp_path):
        job = self._seeded(spark, tmp_path)
        assert _view(job.view()) == _view(
            _recompute(spark, BASE_FACTS, BASE_DIM)
        )
        with pytest.raises(ValueError, match="re-seed"):
            job.seed(_recompute(spark, BASE_FACTS, BASE_DIM))

    def test_fact_and_dim_batches_match_recompute(self, spark, tmp_path):
        """Three batches: fact-only, dim-only movement (update + delete
        + insert, dirt derived from the digest diff, no side channel),
        then both at once — view == recompute after each."""
        job = self._seeded(spark, tmp_path)

        # batch 0: facts only
        job.apply_batch(_chg(spark, [
            _c("i", None, (4, 20, 400), 1),
            _c("u", (1, 10, 100), (1, 10, 150), 2),
        ]), 0)
        facts = [(1, 10, 150), (2, 20, 200), (3, None, 300), (4, 20, 400)]
        assert _view(job.view()) == _view(_recompute(spark, facts, BASE_DIM))

        # batch 1: dim only — 10 renamed, 20 deleted, 30 appears
        dim1 = [(10, "alicia", "gold"), (30, "carol", "vip")]
        _dim_df(spark, dim1).write.mode("overwrite").parquet(
            str(tmp_path / "dim")
        )
        job.apply_batch(_chg(spark, []), 1)
        assert _view(job.view()) == _view(_recompute(spark, facts, dim1))

        # batch 2: both — fact retargets onto the new dim key, dim moves again
        dim2 = [(10, "alicia", "plat"), (30, "carol", "vip")]
        _dim_df(spark, dim2).write.mode("overwrite").parquet(
            str(tmp_path / "dim")
        )
        job.apply_batch(_chg(spark, [
            _c("u", (2, 20, 200), (2, 30, 200), 3),
            _c("d", (4, 20, 400), None, 4),
        ]), 2)
        facts = [(1, 10, 150), (2, 30, 200), (3, None, 300)]
        assert _view(job.view()) == _view(_recompute(spark, facts, dim2))
        # O(Δ) writes: batch 2 persisted only the two touched fact rows
        gen = str(tmp_path / "view")
        b2 = spark.read.parquet(os.path.join(gen, "versions", "ingest_batch=2"))
        assert b2.count() == 3  # upsert(2) + tombstone(4) + refresh(1: cust 10 moved)

    def test_replay_overwrites_its_own_subtree(self, spark, tmp_path):
        job = self._seeded(spark, tmp_path)
        batch = _chg(spark, [_c("u", (1, 10, 100), (1, 10, 150), 1)])
        job.apply_batch(batch, 0)
        want = _view(job.view())
        job.apply_batch(batch, 0)  # at-least-once replay
        assert _view(job.view()) == want
        assert job.stats()["ingest_batches"] == 1

    def test_compaction_preserves_view_and_guards_replay(self, spark, tmp_path):
        job = self._seeded(spark, tmp_path)
        for i in range(5):
            job.apply_batch(_chg(spark, [
                _c("i", None, (10 + i, 10, i), i + 1),
            ]), i)
        before = _view(job.view())
        assert job.compact(max_batches=2) == 5
        assert job.stats()["generation"] == "gen-1"
        assert _view(job.view()) == before
        # replayed pre-compaction batch: no-op under the watermark
        job.apply_batch(_chg(spark, [_c("i", None, (10, 10, 0), 1)]), 0)
        assert job.stats()["ingest_batches"] == 0
        assert _view(job.view()) == before
        # post-compaction ingest still lands, incl. a delete of folded rows
        job.apply_batch(_chg(spark, [_c("d", (10, 10, 0), None, 99)]), 9)
        assert _view(job.view()) == [r for r in before if r[0] != 10]

    def test_tombstoned_key_can_reappear(self, spark, tmp_path):
        job = self._seeded(spark, tmp_path)
        job.apply_batch(_chg(spark, [_c("d", (1, 10, 100), None, 1)]), 0)
        assert 1 not in {r[0] for r in job.view().collect()}
        job.apply_batch(_chg(spark, [_c("i", None, (1, 20, 111), 2)]), 1)
        got = {r[0]: tuple(r) for r in job.view().collect()}
        assert got[1] == (1, 20, 111, "bob", "base")

    def test_streaming_e2e(self, spark, tmp_path):
        src = str(tmp_path / "src")
        os.makedirs(src)
        _chg(spark, [
            _c("i", None, (4, 20, 400), 1),
        ]).coalesce(1).write.parquet(os.path.join(src, "b0"))
        _chg(spark, [
            _c("u", (4, 20, 400), (4, 10, 440), 2),
            _c("d", (2, 20, 200), None, 3),
        ]).coalesce(1).write.parquet(os.path.join(src, "b1"))
        job = self._seeded(spark, tmp_path)
        job.start()
        job.process_available()
        assert job.stats()["ingest_batches"] == 2
        facts = [(1, 10, 100), (3, None, 300), (4, 10, 440)]
        assert _view(job.view()) == _view(_recompute(spark, facts, BASE_DIM))

    def test_manager_lifecycle_recover_and_http(self, spark, tmp_path):
        """The join-view maintainer as the ninth managed job type:
        create/list/pause, recover() on a fresh manager from the
        plain-JSON spec, and the HTTP create route with its
        missing-field 400."""
        import json
        import urllib.request

        from dtle_spark.catalog import SchemaCatalog
        from dtle_spark.streaming.http_api import ControlServer
        from dtle_spark.streaming.jobs import JobManager

        src = str(tmp_path / "src")
        os.makedirs(src)
        _dim_df(spark, BASE_DIM).write.parquet(str(tmp_path / "dim"))
        _chg(spark, [_c("i", None, (4, 20, 400), 1)]).coalesce(1).write.parquet(
            os.path.join(src, "b0")
        )
        spec_root = str(tmp_path / "specs")
        mgr = JobManager(spark, spec_root=spec_root)
        jj = mgr.create_job(
            "join_maintain", "ordview", source_dir=os.path.join(src, "*"),
            dim_dir=str(tmp_path / "dim"), view_root=str(tmp_path / "view"),
            checkpoint_dir=str(tmp_path / "ck"), key_cols=["id"],
            fk="cust", right_pk="cid", right_cols=DIM_COLS,
            row_schema_ddl="id long, cust long, amount long",
            start=False,
        )
        jj.seed(
            _recompute(spark, BASE_FACTS, BASE_DIM), _dim_df(spark, BASE_DIM)
        )
        jj.start()
        jj.process_available()
        st = mgr.list()["ordview"]
        assert st["type"] == "join_maintain" and st["ingest_batches"] == 1
        with pytest.raises(ValueError, match="row_schema_ddl"):
            mgr.create_job(
                "join_maintain", "bad", source_dir=os.path.join(src, "*"),
                dim_dir=str(tmp_path / "dim"), view_root=str(tmp_path / "v2"),
                checkpoint_dir=str(tmp_path / "ck2"), key_cols=["id"],
                fk="cust", right_pk="cid", right_cols=DIM_COLS,
                schema=change_schema(FACT),
            )
        mgr.pause("ordview")

        # a second batch lands while paused; a FRESH manager recovers
        _chg(spark, [_c("d", (2, 20, 200), None, 2)]).coalesce(1).write.parquet(
            os.path.join(src, "b1")
        )
        mgr2 = JobManager(spark, spec_root=spec_root)
        assert mgr2.recover(start=False) == ["ordview"]
        mgr2.resume("ordview")
        jj2 = mgr2.get("ordview")
        jj2.process_available()
        facts = [(1, 10, 100), (3, None, 300), (4, 20, 400)]
        assert _view(jj2.view()) == _view(_recompute(spark, facts, BASE_DIM))

        # HTTP create (ninth type) + the missing-field 400
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
                "name": "j1", "type": "join_maintain",
                "source_dir": os.path.join(src, "*"),
                "dim_dir": str(tmp_path / "dim"),
                "view_root": str(tmp_path / "hview"),
                "checkpoint_dir": str(tmp_path / "hck"),
                "key_cols": ["id"], "fk": "cust", "right_pk": "cid",
                "right_cols": DIM_COLS, "start": False,
            }
            code, err = _http("POST", "/v2/jobs", body)
            assert code == 400 and "row_schema_ddl" in err["error"]
            body["row_schema_ddl"] = "id long, cust long, amount long"
            code, _ = _http("POST", "/v2/jobs", body)
            assert code == 201
            j1 = manager.get("j1")
            j1.seed(_recompute(spark, BASE_FACTS, BASE_DIM))
            j1.start()
            j1.process_available()
            assert j1.stats()["ingest_batches"] == 2
            code, got = _http("GET", "/v2/job/j1")
            assert code == 200 and got["type"] == "join_maintain"
        finally:
            server.stop()

    def test_clustered_base_roundtrip_and_tight_ranges(self, spark, tmp_path):
        """cluster_by=[fk]: the seeded and compacted bases are written
        range-clustered on the fk (tableio.write_clustered). Layout
        proof lives in test_write_clustered_disjoint_file_ranges (AQE
        coalesces this tiny fixture to one file); here the semantics
        must be unchanged: view == recompute through batches +
        compaction."""
        _dim_df(spark, BASE_DIM).write.mode("overwrite").parquet(
            str(tmp_path / "dim")
        )
        facts = [(i, (10, 20)[i % 2], i) for i in range(1, 401)]
        job = self._job(spark, tmp_path, cluster_by=["cust"])
        dim = _dim_df(spark, BASE_DIM)
        job.seed(
            join_view_of(
                spark.createDataFrame(facts, FACT), dim, "cust", "cid", DIM_COLS
            ),
            dim,
        )
        for i in range(4):
            job.apply_batch(_chg(spark, [
                _c("u", (1 + i, (10, 20)[(1 + i) % 2], 1 + i),
                   (1 + i, 20, 1000 + i), i + 1),
            ]), i)
        applied = [(i, (10, 20)[i % 2], i) for i in range(5, 401)] + [
            (i, 20, 999 + i) for i in range(1, 5)
        ]
        assert _view(job.view()) == _view(_recompute(spark, applied, BASE_DIM))
        assert job.compact(max_batches=2) == 4
        assert _view(job.view()) == _view(_recompute(spark, applied, BASE_DIM))
        assert os.path.isdir(str(tmp_path / "view" / "gen-1" / "base"))

    def test_star_job_two_dims(self, spark, tmp_path):
        """extra_dims: the job maintains a STAR view — per-dim digest
        lanes, a single carved version per fact row even when BOTH its
        dims move in one batch, and spec round-trip through a fresh
        manager's recover()."""
        from pyspark.sql import types as T2

        from dtle_spark.operators.join_view import DimSpec, star_view_of
        from dtle_spark.streaming.jobs import JobManager

        star = T2.StructType([
            T2.StructField("id", T2.LongType()),
            T2.StructField("cust", T2.LongType()),
            T2.StructField("prod", T2.LongType()),
        ])
        src = str(tmp_path / "src")
        os.makedirs(src)
        _dim_df(spark, BASE_DIM).write.parquet(str(tmp_path / "dim"))
        prod0 = spark.createDataFrame(
            [(7, "widget"), (8, "gadget")], "pid long, pname string"
        )
        prod0.write.parquet(str(tmp_path / "dim2"))
        facts0 = [(1, 10, 7), (2, 20, 8), (3, None, 7)]

        spec_root = str(tmp_path / "specs")
        mgr = JobManager(spark, spec_root=spec_root)
        job = mgr.create_job(
            "join_maintain", "star", source_dir=os.path.join(src, "*"),
            dim_dir=str(tmp_path / "dim"), view_root=str(tmp_path / "view"),
            checkpoint_dir=str(tmp_path / "ck"), key_cols=["id"],
            fk="cust", right_pk="cid", right_cols=DIM_COLS,
            row_schema_ddl="id long, cust long, prod long",
            extra_dims=[{"dim_dir": str(tmp_path / "dim2"), "fk": "prod",
                         "pk": "pid", "cols": {"pname": "prod_name"}}],
            start=False,
        )
        specs = [DimSpec("cust", "cid", DIM_COLS),
                 DimSpec("prod", "pid", {"pname": "prod_name"})]

        def recompute(facts, dim_rows, prod_rows):
            return star_view_of(
                spark.createDataFrame(facts, star),
                [(_dim_df(spark, dim_rows), specs[0]),
                 (spark.createDataFrame(prod_rows, "pid long, pname string"),
                  specs[1])],
            )

        job.seed(
            recompute(facts0, BASE_DIM, [(7, "widget"), (8, "gadget")]),
            [_dim_df(spark, BASE_DIM), prod0],
        )

        # both dims move + a fact change, one batch
        dim1 = [(10, "alicia", "gold"), (20, "bob", "vip")]
        prod1 = [(7, "widget-x"), (8, "gadget")]
        _dim_df(spark, dim1).write.mode("overwrite").parquet(str(tmp_path / "dim"))
        spark.createDataFrame(prod1, "pid long, pname string").write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "dim2"))
        chg = spark.createDataFrame(
            [(SID, 1, 1, 0, "i", None, "d", "t", None, (4, 10, 8), None)],
            change_schema(star),
        )
        job.apply_batch(chg, 0)
        facts = facts0 + [(4, 10, 8)]
        assert _view(job.view()) == _view(recompute(facts, dim1, prod1))
        # row 1 references BOTH moved dims -> exactly ONE carved version
        b0 = spark.read.parquet(
            str(tmp_path / "view" / "versions" / "ingest_batch=0")
        )
        assert b0.filter("id = 1").count() == 1

        # recover() rebuilds the star from the JSON spec
        mgr2 = JobManager(spark, spec_root=spec_root)
        assert mgr2.recover(start=False) == ["star"]
        j2 = mgr2.get("star")
        assert len(j2.dims) == 2
        assert _view(j2.view()) == _view(recompute(facts, dim1, prod1))

    def test_dim_pin_prevents_silent_staleness(
        self, spark, tmp_path, monkeypatch
    ):
        """The dim is pinned ONCE per batch: if the dim's own apply
        lane rewrites its path MID-batch (simulated by a digest hook),
        the end-of-batch digest snapshot must capture the state that
        was actually JOINED — so the next batch's diff sees the rewrite
        as dirt and refreshes. Without the pin, the lazy re-read would
        snapshot the NEWER dim, mark its keys clean, and the view would
        hold stale dim values until the key moved again."""
        job = self._seeded(spark, tmp_path)
        dim_v2 = [(10, "alice2", "gold"), (20, "bob", "base")]
        orig = JoinViewMaintainJob._digest
        fired = []

        def hook(dim, spec):
            if not fired:
                fired.append(1)
                _dim_df(spark, dim_v2).write.mode("overwrite").parquet(
                    str(tmp_path / "dim")
                )
            return orig(dim, spec)

        monkeypatch.setattr(
            JoinViewMaintainJob, "_digest", staticmethod(hook)
        )
        # batch 0 touches only fact 2 (cust 20); fact 1 (cust 10) is
        # untouched and rides the dim lane only
        job.apply_batch(_chg(spark, [
            _c("u", (2, 20, 200), (2, 20, 250), 1),
        ]), 0)
        assert fired
        # batch 1 (hook spent): the digest diff must flag cust 10 as
        # moved and refresh fact 1 to the v2 name
        job.apply_batch(_chg(spark, []), 1)
        facts = [(1, 10, 100), (2, 20, 250), (3, None, 300)]
        assert _view(job.view()) == _view(_recompute(spark, facts, dim_v2))
        got = {r["id"]: r["cust_name"] for r in job.view().collect()}
        assert got[1] == "alice2"

    def test_star_job_dim_delete_lane_across_compaction(self, spark, tmp_path):
        """Job-level E2E of the dim-side DELETE change shape: a deleted
        dim row NULLs the dim columns of every referencing fact (SQL
        left-join semantics), via the digest diff alone (no fact
        events) — and the lane still works AFTER a compaction boundary
        (the folded generation carries the last digest snapshot)."""
        from dtle_spark.operators.join_view import DimSpec, star_view_of

        star = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("cust", T.LongType()),
            T.StructField("prod", T.LongType()),
        ])
        _dim_df(spark, BASE_DIM).write.parquet(str(tmp_path / "dim"))
        prod0 = [(7, "widget"), (8, "gadget")]
        spark.createDataFrame(prod0, "pid long, pname string").write.parquet(
            str(tmp_path / "dim2")
        )
        facts = [(1, 10, 7), (2, 20, 8), (3, 20, 7), (4, None, 8)]
        specs = [DimSpec("cust", "cid", DIM_COLS),
                 DimSpec("prod", "pid", {"pname": "prod_name"})]

        def recompute(dim_rows, prod_rows):
            return star_view_of(
                spark.createDataFrame(facts, star),
                [(_dim_df(spark, dim_rows), specs[0]),
                 (spark.createDataFrame(prod_rows, "pid long, pname string"),
                  specs[1])],
            )

        job = JoinViewMaintainJob(
            spark, str(tmp_path / "src" / "*"), str(tmp_path / "dim"),
            str(tmp_path / "view"), str(tmp_path / "ck"),
            ["id"], "cust", "cid", DIM_COLS, schema=change_schema(star),
            extra_dims=[{"dim_dir": str(tmp_path / "dim2"), "fk": "prod",
                         "pk": "pid", "cols": {"pname": "prod_name"}}],
        )
        job.seed(recompute(BASE_DIM, prod0), [
            _dim_df(spark, BASE_DIM),
            spark.createDataFrame(prod0, "pid long, pname string"),
        ])

        # dim DELETE: cust 20 vanishes; facts 2 and 3 must NULL out
        dim1 = [(10, "alice", "gold")]
        _dim_df(spark, dim1).write.mode("overwrite").parquet(
            str(tmp_path / "dim")
        )
        job.apply_batch(
            spark.createDataFrame([], change_schema(star)), 0
        )
        assert _view(job.view()) == _view(recompute(dim1, prod0))
        nulled = {r["id"]: (r["cust_name"], r["cust_tier"])
                  for r in job.view().collect()}
        assert nulled[2] == (None, None) and nulled[3] == (None, None)

        # compaction boundary, then the OTHER dim loses a row
        assert job.compact(max_batches=0) == 1
        prod1 = [(7, "widget")]
        spark.createDataFrame(prod1, "pid long, pname string").write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "dim2"))
        job.apply_batch(
            spark.createDataFrame([], change_schema(star)), 1
        )
        assert _view(job.view()) == _view(recompute(dim1, prod1))
        got = {r["id"]: r["prod_name"] for r in job.view().collect()}
        assert got[2] is None and got[4] is None and got[1] == "widget"

    def test_auto_compact_bounds_segments_without_operator(self, spark, tmp_path):
        """auto_compact_batches: a long stream keeps the version-
        subtree count bounded (merge-on-read fold cost stays O(base +
        N)) with ZERO manual compact() calls, and the view still equals
        the recompute — the read-amplification bound SCALE.md promises
        made self-enforcing."""
        job = self._seeded(spark, tmp_path, auto_compact_batches=3)
        compactions = 0
        for i in range(10):
            job.apply_batch(_chg(spark, [
                _c("i", None, (100 + i, 10, i), i + 1),
            ]), i)
            st = job.stats()
            assert st["ingest_batches"] <= 3, f"batch {i}: {st}"
            compactions = max(compactions, st["compacted_through"])
        assert compactions > 0  # it actually compacted, more than once
        assert job.stats()["generation"].startswith("gen-")
        facts = BASE_FACTS + [(100 + i, 10, i) for i in range(10)]
        assert _view(job.view()) == _view(_recompute(spark, facts, BASE_DIM))

    def test_write_clustered_disjoint_file_ranges(self, spark, tmp_path):
        """tableio.write_clustered: with an explicit file count, every
        parquet file carries a DISJOINT min/max range on the cluster
        column — the statistics a selective read prunes on."""
        import glob

        import pyarrow.parquet as pq

        from dtle_spark.tableio import write_clustered

        df = spark.range(20_000).selectExpr(
            "id", "id % 1000 AS fk", "id * 2 AS v"
        )
        out = str(tmp_path / "clustered")
        write_clustered(df, out, ["fk"], n_files=8)
        spans = []
        for f in sorted(glob.glob(os.path.join(out, "*.parquet"))):
            md = pq.read_metadata(f)
            idx = md.schema.to_arrow_schema().get_field_index("fk")
            stats = [md.row_group(i).column(idx).statistics
                     for i in range(md.num_row_groups)]
            spans.append((min(s.min for s in stats), max(s.max for s in stats)))
        assert len(spans) >= 4
        spans.sort()
        for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
            assert hi1 <= lo2, f"overlapping file ranges: {spans}"
        # round-trip intact
        assert spark.read.parquet(out).count() == 20_000

    def test_write_clustered_null_keys_roundtrip(self, spark, tmp_path):
        """NULL cluster keys sort first and land in the lowest range
        file (the docstring's claim): the write succeeds, every row
        survives, and a NULL-key read still finds all its rows."""
        from dtle_spark.tableio import write_clustered

        df = spark.range(5_000).selectExpr(
            "id", "CASE WHEN id % 10 = 0 THEN NULL ELSE id % 100 END AS fk"
        )
        out = str(tmp_path / "clustered_nulls")
        write_clustered(df, out, ["fk"], n_files=4)
        back = spark.read.parquet(out)
        assert back.count() == 5_000
        assert back.filter("fk IS NULL").count() == 500

    def test_upstream_add_column_widens_view(self, spark, tmp_path):
        """Schema-evolution contract (streaming/schema_guard.py): an
        upstream ADD COLUMN on the fact WIDENS the view — new rows
        carry the value, rows not rewritten since the change read
        NULL (the state a freshly ALTERed warehouse table has), the
        widening survives compaction, and once adopted the column is
        part of the contract: a later batch WITHOUT it fails loud."""
        wide = T.StructType(FACT.fields + [T.StructField("note", T.StringType())])
        job = self._seeded(spark, tmp_path)
        job.apply_batch(_chg(spark, [_c("i", None, (4, 10, 400), 1)]), 0)

        b = spark.createDataFrame(
            [(SID, 2, 2, 0, "i", None, "db1", "t", None,
              (5, 20, 500, "hello"), None)],
            change_schema(wide),
        )
        job.apply_batch(b, 1)
        view = job.view()
        assert "note" in view.columns
        notes = {r["id"]: r["note"] for r in view.collect()}
        assert notes[5] == "hello"
        assert notes[4] is None and notes[1] is None  # pre-widening rows
        # the join invariant still holds on the original columns
        assert _view(view.drop("note")) == _view(_recompute(
            spark, BASE_FACTS + [(4, 10, 400), (5, 20, 500)], BASE_DIM
        ))

        job.compact(max_batches=1)
        assert {r["id"]: r["note"] for r in job.view().collect()}[5] == "hello"

        with pytest.raises(RuntimeError, match="INCOMPATIBLY"):
            job.apply_batch(
                _chg(spark, [_c("i", None, (6, 10, 600), 3)]), 2
            )

    def test_upstream_retype_fails_loud(self, spark, tmp_path):
        """A retyped fact column fails the NEXT batch with the rebuild
        path in the message — never a silently misaligned version
        subtree or an opaque mid-plan AnalysisException."""
        retyped = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("cust", T.LongType()),
            T.StructField("amount", T.StringType()),  # was long
        ])
        job = self._seeded(spark, tmp_path)
        job.apply_batch(_chg(spark, [_c("i", None, (4, 10, 400), 1)]), 0)
        b = spark.createDataFrame(
            [(SID, 2, 2, 0, "i", None, "db1", "t", None,
              (5, 20, "oops"), None)],
            change_schema(retyped),
        )
        with pytest.raises(RuntimeError, match="retyped.*amount"):
            job.apply_batch(b, 1)

    def test_dim_losing_spec_column_fails_loud(self, spark, tmp_path):
        """The dim-side guard: a dim table rewritten WITHOUT a column
        the spec maps into the view fails the next batch loud (dims
        are re-read every batch, so this would otherwise surface as
        an AnalysisException deep inside the carve plan)."""
        job = self._seeded(spark, tmp_path)
        job.apply_batch(_chg(spark, [_c("i", None, (4, 10, 400), 1)]), 0)
        spark.createDataFrame(
            [(10, "alice")], "cid long, name string"  # tier dropped
        ).write.mode("overwrite").parquet(str(tmp_path / "dim"))
        with pytest.raises(RuntimeError, match="tier"):
            job.apply_batch(_chg(spark, [_c("i", None, (5, 20, 500), 2)]), 1)

    def test_random_batches_match_recompute(self, spark, tmp_path):
        """Seeded random fact batches + dim churn, applied through the
        job (digest-diff dirt, merge-on-read fold): view == recompute
        after every batch, and again after a mid-stream compaction."""
        import random

        rng = random.Random(1107)
        alive = dict((k, (k, rng.choice([10, 20, None]), k)) for k in range(1, 6))
        dim = {10: (10, "a", "t1"), 20: (20, "b", "t2")}
        _dim_df(spark, list(dim.values())).write.mode("overwrite").parquet(
            str(tmp_path / "dim")
        )
        job = self._job(spark, tmp_path)
        job.seed(
            _recompute(spark, list(alive.values()), list(dim.values())),
            _dim_df(spark, list(dim.values())),
        )
        for batch_no in range(5):
            events = []
            for seq in range(1, 5):
                roll, live = rng.random(), sorted(alive)
                s = batch_no * 10 + seq
                if not live or roll < 0.3:
                    k = rng.randint(1, 25)
                    if k in alive:
                        continue
                    alive[k] = (k, rng.choice([10, 20, 30, None]), s)
                    events.append(_c("i", None, alive[k], s))
                elif roll < 0.55:
                    k = rng.choice(live)
                    events.append(_c("d", alive.pop(k), None, s))
                else:
                    k = rng.choice(live)
                    old = alive[k]
                    alive[k] = (k, rng.choice([10, 20, 30, None]), old[2] + s)
                    events.append(_c("u", old, alive[k], s))
            if rng.random() < 0.6:  # dim churn
                if 30 in dim and rng.random() < 0.4:
                    del dim[30]
                elif 30 not in dim:
                    dim[30] = (30, "c", "t3")
                else:
                    pick = rng.choice(sorted(dim))
                    dim[pick] = (pick, dim[pick][1] + "x", dim[pick][2])
                _dim_df(spark, list(dim.values())).write.mode(
                    "overwrite"
                ).parquet(str(tmp_path / "dim"))
            job.apply_batch(_chg(spark, events), batch_no)
            assert _view(job.view()) == _view(
                _recompute(spark, list(alive.values()), list(dim.values()))
            ), f"batch {batch_no}"
            if batch_no == 3:
                job.compact(max_batches=2)
                assert _view(job.view()) == _view(
                    _recompute(spark, list(alive.values()), list(dim.values()))
                ), "post-compaction"
