"""Persisted job-spec compatibility: ``tests/fixtures/specs/`` holds one
spec per managed job type as an earlier JobManager wrote it (the
temporary root replaced by ``$ROOT``). A fresh manager's recover() must
rebuild each job with the same type, roots and kwargs, and re-persist
the spec byte for byte — the on-disk format is the agent-restart
contract, so a refactor of how job types are declared may not move it."""

from __future__ import annotations

import os

import pytest

from dtle_spark.streaming.jobs import JobManager

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "specs")


def _install(tmp_path) -> tuple[str, dict[str, str]]:
    root = str(tmp_path)
    spec_root = os.path.join(root, "specs")
    os.makedirs(spec_root)
    texts = {}
    for fname in sorted(os.listdir(FIXTURES)):
        with open(os.path.join(FIXTURES, fname)) as f:
            text = f.read().replace("$ROOT", root)
        with open(os.path.join(spec_root, fname), "w") as f:
            f.write(text)
        texts[fname[: -len(".json")]] = text
    return spec_root, texts


def _tiny_model(spark):
    cent = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(4)],
        "cent_id int, c_vec array<float>",
    )
    cb = spark.createDataFrame(
        [(s, c, [float(s + c)] * 8) for s in range(8) for c in range(16)],
        "sub int, code int, cvec array<float>",
    )
    return cent, cb


@pytest.fixture(scope="module")
def recovered(spark, tmp_path_factory):
    from dtle_spark.streaming.ann_serving import save_model

    tmp = tmp_path_factory.mktemp("specs")
    spec_root, texts = _install(tmp)
    # vector jobs reload their model from the index generation
    cent, cb = _tiny_model(spark)
    for idx in ("index_wire", "index_served"):
        save_model(os.path.join(str(tmp), idx), cent, cb)
    mgr = JobManager(spark, spec_root=spec_root)
    names = mgr.recover(start=False)
    return str(tmp), spec_root, texts, mgr, names


def test_recover_rebuilds_every_fixture_type(recovered):
    _root, _sr, texts, mgr, names = recovered
    assert sorted(names) == sorted(texts)
    want_types = {
        "replication": "ReplicationJob",
        "subscription": "SubscriptionJob",
        "stream_profile": "StreamProfileJob",
        "agg_maintain": "AggMaintainJob",
        "scd2_history": "Scd2HistoryJob",
        "join_maintain": "JoinViewMaintainJob",
        "corpus_ingest": "CorpusIngestJob",
        "vector_maintain": "VectorIndexMaintainJob",
        "ann_serving": "AnnServingJob",
    }
    for name, cls in want_types.items():
        job = mgr.get(name)
        assert type(job).__name__ == cls, name
        assert job.query is None, f"{name} started despite start=False"


def test_recover_restores_roots_and_kwargs(recovered):
    root, _sr, _texts, mgr, _names = recovered
    R = lambda *p: os.path.join(root, *p)  # noqa: E731

    rj = mgr.get("replication")
    assert (rj.source_dir, rj.checkpoint_dir) == (
        R("repl", "src", "*"), R("repl", "ck"))
    assert type(rj.target).__name__ == "BucketedTableTarget"
    assert rj.target.n_buckets == 8 and rj.job.tx_atomic
    assert rj.job.tables[0].where == "id > 0"

    sj = mgr.get("subscription")
    assert sj.checkpoint_dir == R("sub", "ck")

    pj = mgr.get("stream_profile")
    assert (pj.source_dir, pj.profile_root, pj.checkpoint_dir) == (
        R("prof", "src", "*"), R("prof", "root"), R("prof", "ck"))
    assert (pj.key_sql, pj.value_sql, pj.group_sql) == (
        "source", "length(text)", "lang")
    assert (pj.width, pj.auto_compact_batches) == (256, 4)

    aj = mgr.get("agg_maintain")
    assert (aj.source_dir, aj.view_root, aj.checkpoint_dir) == (
        R("agg", "src", "*"), R("agg", "view"), R("agg", "ck"))
    assert aj.group_sqls == {"grp": "grp"}
    assert aj.measure_sqls == {"amt": "amount"}
    assert (aj.max_files_per_trigger, aj.auto_compact_batches) == (2, 3)
    assert aj.schema["after"].dataType.simpleString() == (
        "struct<id:bigint,grp:string,amount:bigint>")

    hj = mgr.get("scd2_history")
    assert (hj.history_root, hj.key_cols, hj.auto_compact_batches) == (
        R("hist", "root"), ["id"], 5)
    assert hj.schema is not None

    jj = mgr.get("join_maintain")
    assert (jj.dim_dir, jj.view_root) == (R("join", "dim"), R("join", "view"))
    assert (jj.fk, jj.right_pk, jj.right_cols) == (
        "cust", "cid", {"name": "cust_name"})
    assert (jj.cluster_by, jj.auto_compact_batches) == (["cust"], 6)
    assert [d for d, _ in jj.dims] == [R("join", "dim"), R("join", "dim2")]

    cj = mgr.get("corpus_ingest")
    assert cj.target.root == R("corpus", "tgt")
    assert (cj.threshold, cj.gate_thresholds, cj.auto_compact_segments) == (
        0.6, {"drift:cms_tv": 0.3}, 8)

    vj = mgr.get("vector_maintain")
    assert (vj.index_root, vj.checkpoint_dir) == (
        R("index_wire"), R("vec", "ck"))
    assert vj.carry_cols == ("tenant",) and vj.auto_compact_batches == 4
    # wire_table rebuilt the CDC bridge hooks
    assert callable(vj.reader) and callable(vj.transform)

    nj = mgr.get("ann_serving")
    assert (nj.query_source_dir, nj.index_root, nj.results_root) == (
        R("serve", "q", "*"), R("index_served"), R("serve", "res"))
    assert (nj.k, nj.nprobe, nj.where, nj.exclude_self) == (
        5, 2, "tenant = 'a'", False)


def test_recover_repersists_spec_bytes_unchanged(recovered):
    """recover() re-runs create, which re-writes every spec: the bytes
    must equal what the earlier manager wrote."""
    _root, spec_root, texts, _mgr, _names = recovered
    for name, text in texts.items():
        with open(os.path.join(spec_root, f"{name}.json")) as f:
            assert f.read() == text, name
