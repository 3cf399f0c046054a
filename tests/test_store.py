"""The generation-store protocol (streaming/store.py), proven once for
every maintainer that keeps its state in generations: the rollup
(agg), the sketch profiler, SCD2 history, the join view and the
vector index. Each case drives the public job/chore API only, so the
matrix pins the on-disk contract rather than one implementation:

- a compaction that dies before its ``_CURRENT`` swap and is retried
  after one more batch reads exactly like a crash-free run (the
  orphaned uncommitted generation must not double-count);
- a batch stamped under one stream checkpoint fails loudly when a job
  on a fresh checkpoint writes to the same root;
- the first compaction with ``gc_previous=True`` removes everything
  the root-as-generation owned;
- reindex of a generation with no ingest subtrees keeps its
  compaction watermark.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from dtle_spark.model import change_schema
from tests.conftest import SF_DIR

SID = "55555555-5555-5555-5555-555555555555"
ROW = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.LongType()),
        T.StructField("amount", T.LongType()),
    ]
)


def _c(op, before, after, seq):
    return (SID, seq, seq, 0, op, None, "db1", "t", before, after, None)


# four batches of image-consistent changes over ROW: inserts, an
# update, a group move and a delete, so every maintainer's fold has
# something to cancel, close or tombstone
CHANGES = [
    [_c("i", None, (1, 10, 1), 1), _c("i", None, (2, 20, 2), 2)],
    [_c("u", (1, 10, 1), (1, 10, 3), 3)],
    [_c("i", None, (3, 10, 4), 4), _c("u", (2, 20, 2), (2, 10, 2), 5)],
    [_c("d", (3, 10, 4), None, 6), _c("i", None, (4, 20, 5), 7)],
]


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


class _Agg:
    owned = ("deltas",)

    def make(self, spark, root, ck):
        from dtle_spark.streaming.agg_maintain import AggMaintainJob

        return AggMaintainJob(
            spark, os.path.join(root, "src"), os.path.join(root, "view"), ck,
            {"grp": "grp"}, {"amt": "amount"}, schema=change_schema(ROW),
        )

    def store_root(self, job):
        return job.view_root

    def batch(self, spark, k):
        return spark.createDataFrame(CHANGES[k], change_schema(ROW))

    def compact(self, spark, job, gc_previous=True):
        return job.compact(max_batches=0, gc_previous=gc_previous)

    def read(self, job):
        return _rows(job.view())


class _Profile:
    owned = ("cms", "kmv", "loghist")

    def make(self, spark, root, ck):
        from dtle_spark.streaming.profile import StreamProfileJob

        return StreamProfileJob(
            spark, os.path.join(root, "src"), os.path.join(root, "profile"),
            ck, key_sql="source", value_sql="length(text)",
        )

    def store_root(self, job):
        return job.profile_root

    def batch(self, spark, k):
        return spark.createDataFrame(
            [(k * 10 + j, "x" * (k + j + 1), "en", f"s{(k + j) % 3}")
             for j in range(4)],
            "doc_id long, text string, lang string, source string",
        )

    def compact(self, spark, job, gc_previous=True):
        return job.compact(max_batches=0, gc_previous=gc_previous)

    def read(self, job):
        return {k: _rows(v) for k, v in job.profile().items()}


class _History:
    owned = ("events",)

    def make(self, spark, root, ck):
        from dtle_spark.streaming.history import Scd2HistoryJob

        return Scd2HistoryJob(
            spark, os.path.join(root, "src"), os.path.join(root, "hist"), ck,
            ["id"], schema=change_schema(ROW),
        )

    def store_root(self, job):
        return job.history_root

    def batch(self, spark, k):
        return spark.createDataFrame(CHANGES[k], change_schema(ROW))

    def compact(self, spark, job, gc_previous=True):
        return job.compact(max_batches=0, gc_previous=gc_previous)

    def read(self, job):
        return _rows(job.history())


class _Join:
    owned = ("base", "versions", "_dimdigest")

    def make(self, spark, root, ck):
        from dtle_spark.operators.join_view import join_view_of
        from dtle_spark.streaming.join_maintain import JoinViewMaintainJob

        dim_dir = os.path.join(root, "dim")
        dim = spark.createDataFrame(
            [(10, "ten"), (20, "twenty")], "cid long, name string"
        )
        if not os.path.exists(dim_dir):
            dim.write.parquet(dim_dir)
        job = JoinViewMaintainJob(
            spark, os.path.join(root, "src"), dim_dir,
            os.path.join(root, "view"), ck, ["id"], "grp", "cid",
            {"name": "grp_name"}, schema=change_schema(ROW),
        )
        if not os.path.exists(os.path.join(job.view_root, "base")):
            job.seed(
                join_view_of(spark.createDataFrame([], ROW), dim, "grp",
                             "cid", {"name": "grp_name"}),
                dim,
            )
        return job

    def store_root(self, job):
        return job.view_root

    def batch(self, spark, k):
        return spark.createDataFrame(CHANGES[k], change_schema(ROW))

    def compact(self, spark, job, gc_previous=True):
        return job.compact(max_batches=0, gc_previous=gc_previous)

    def read(self, job):
        return _rows(job.view())


def _embeddings(spark):
    return spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")


_MODEL = {}


def _model(spark):
    """A frozen IVF-PQ model trained once per test process on the fixture
    embeddings (the ann_topk_ivf_pq registry query's recipe)."""
    if not _MODEL:
        from dtle_spark.functions import similarity as sim

        tr = sim.md5_train_sample(_embeddings(spark))
        cent = sim.ivf_exact_mean_centroids(tr, k=16).localCheckpoint()
        cb = sim.pq_refine(
            tr, sim.pq_codebook(tr, m=8, ksub=16, means=cent),
            steps=2, m=8, ksub=16,
        ).localCheckpoint()
        _MODEL["m"] = (cent, cb)
    return _MODEL["m"]


class _Vector:
    owned = ("_tombstones", "_model", "_MODEL_FP")

    def make(self, spark, root, ck):
        from dtle_spark.streaming.ann_serving import VectorIndexMaintainJob

        cent, cb = _model(spark)
        return VectorIndexMaintainJob(
            spark, os.path.join(root, "src"), os.path.join(root, "index"),
            ck, cent, cb,
        )

    def store_root(self, job):
        return job.index_root

    def batch(self, spark, k):
        return _embeddings(spark).filter(f"vec_id % 40 = {k}")

    def compact(self, spark, job, gc_previous=True):
        from dtle_spark.streaming.ann_serving import compact_index

        return compact_index(
            spark, job.index_root, max_batches=0, gc_previous=gc_previous
        )

    def read(self, job):
        return _rows(job.live_index().drop("ingest_batch"))


USERS = {
    "agg": _Agg(),
    "profile": _Profile(),
    "history": _History(),
    "join": _Join(),
    "vector": _Vector(),
}


def _inject_swap_crash(monkeypatch):
    """Make the next ``_CURRENT`` pointer swap raise — the crash window
    between a compaction's writes and its commit point."""
    real = os.replace
    armed = [True]

    def flaky(src, dst, *a, **k):
        if armed[0] and os.path.basename(dst) == "_CURRENT":
            armed[0] = False
            raise OSError("injected crash before the _CURRENT swap")
        return real(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", flaky)
    return armed


@pytest.mark.parametrize("user", sorted(USERS))
def test_crashed_compaction_retry_reads_like_crash_free_run(
    spark, tmp_path, monkeypatch, user
):
    u = USERS[user]

    def run(root, crash):
        job = u.make(spark, root, os.path.join(root, "ck"))
        for k in range(3):
            job.apply_batch(u.batch(spark, k), k)
        if crash:
            armed = _inject_swap_crash(monkeypatch)
            with pytest.raises(OSError, match="injected crash"):
                u.compact(spark, job)
            assert not armed[0]
            monkeypatch.undo()
        else:
            assert u.compact(spark, job) > 0
        job.apply_batch(u.batch(spark, 3), 3)
        assert u.compact(spark, job) > 0
        return u.read(job)

    want = run(str(tmp_path / "clean"), crash=False)
    got = run(str(tmp_path / "crashed"), crash=True)
    assert got == want


@pytest.mark.parametrize("user", sorted(USERS))
def test_fresh_checkpoint_against_old_root_fails(spark, tmp_path, user):
    u = USERS[user]
    root = str(tmp_path)
    job = u.make(spark, root, str(tmp_path / "ck"))
    job.apply_batch(u.batch(spark, 0), 0)
    stranger = u.make(spark, root, str(tmp_path / "ck2"))
    with pytest.raises(ValueError, match="checkpoint mismatch"):
        stranger.apply_batch(u.batch(spark, 1), 1)


@pytest.mark.parametrize("user", sorted(USERS))
def test_first_compaction_gc_clears_root_generation(spark, tmp_path, user):
    """Before the first compaction the store root IS the generation:
    gc_previous must remove what that generation owned, leaving the
    root to the pointer, the shared stores and the new generation."""
    u = USERS[user]
    job = u.make(spark, str(tmp_path), str(tmp_path / "ck"))
    for k in range(2):
        job.apply_batch(u.batch(spark, k), k)
    before = u.read(job)
    assert u.compact(spark, job, gc_previous=True) > 0
    root = u.store_root(job)
    left = sorted(os.listdir(root))
    assert not [n for n in left if n in u.owned], left
    assert not [n for n in left if n.startswith("ingest_batch=")], left
    assert "_CURRENT" in left and "gen-1" in left
    assert u.read(job) == before


def test_reindex_without_ingest_subtrees_keeps_watermark(spark, tmp_path):
    """A pure-delete stream folds into a generation with no ingest
    subtree at all; reindexing it must carry the committed watermark,
    or replays of the folded batches would re-ingest."""
    from dtle_spark.streaming.ann_serving import (
        VectorIndexMaintainJob,
        compact_index,
        reindex,
    )

    cent, cb = _model(spark)
    index_root = str(tmp_path / "index")
    job = VectorIndexMaintainJob(
        spark, str(tmp_path / "src"), index_root, str(tmp_path / "ck"),
        cent, cb,
    )
    deletes = spark.createDataFrame(
        [(7, [0.0] * 64, "delete")],
        "vec_id long, embedding array<float>, op string",
    )
    job.apply_batch(deletes, 0)
    assert compact_index(spark, index_root, max_batches=0) == 1
    assert job.position()["compacted_through"] == 0
    assert job.position()["max_ingest_batch"] == -1
    reindex(spark, index_root, USERS["vector"].batch(spark, 1), cent, cb)
    assert job.position()["compacted_through"] == 0
