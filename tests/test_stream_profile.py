"""Streaming sketch profiler (streaming/profile.py): the mergeable
sketch trio maintained per micro-batch, replay-idempotent, compacted
through the generation-pointer protocol. The invariant under test
everywhere: the ONLINE profile equals the batch sketch of all data
seen (additivity, pinned per-sketch in TestCmsSketch/TestKmvSketch/
TestLogHistSketch — here end to end through the layout)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dtle_spark.functions import sketches as sk
from dtle_spark.streaming.profile import StreamProfileJob

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def _job(spark, tmp_path, **kw):
    return StreamProfileJob(
        spark,
        str(tmp_path / "src" / "*"),
        str(tmp_path / "profile"),
        str(tmp_path / "ck"),
        key_sql="concat(lang, '/', source)",
        value_sql="n_chars",
        schema="doc_id long, text string, lang string, source string, n_chars long",
        **kw,
    )


def _cms_cells(df):
    return {(r["row"], r["bucket"]): r["cnt"] for r in df.collect()}


def _loghist_cells(df):
    return {(r["e"], r["sub"]): r["cnt"] for r in df.collect()}


def test_stream_profile_e2e(spark, tmp_path):
    """Three source files -> three micro-batches; the merged profile
    equals the whole-data sketches; a replayed batch is a no-op; CMS
    point estimates and loghist quantiles answer from the profile."""
    d = _docs(spark).localCheckpoint()
    src = str(tmp_path / "src")
    os.makedirs(src)
    parts = [
        d.filter("doc_id % 3 = 0"),
        d.filter("doc_id % 3 = 1"),
        d.filter("doc_id % 3 = 2"),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(os.path.join(src, f"b{i}"))

    job = _job(spark, tmp_path)
    job.start()
    job.process_available()
    assert job.stats()["ingest_batches"] == 3

    key = "concat(lang, '/', source)"
    p = job.profile()
    assert _cms_cells(p["cms"]) == _cms_cells(sk.cms_sketch(d, key))
    assert _loghist_cells(p["loghist"]) == _loghist_cells(
        sk.loghist_sketch(d, "n_chars")
    )
    direct_kmv = sk.kmv_distinct(d, key).collect()[0]
    assert job.distinct_keys() == direct_kmv["kmv_estimate"]

    # point estimates through the job == batch cms_estimate
    keys = d.selectExpr(f"{key} AS key").distinct().limit(10).localCheckpoint()
    online = {r["key"]: r["est_cnt"] for r in job.key_counts(keys).collect()}
    batch = {r["key"]: r["est_cnt"]
             for r in sk.cms_estimate(sk.cms_sketch(d, key), keys, "key").collect()}
    assert online == batch

    # quantiles through the job == batch loghist path
    on_q = {r["q"]: r["est"] for r in job.value_quantiles([(1, 2), (9, 10)]).collect()}
    bat_q = {r["q"]: r["est"] for r in sk.loghist_quantiles(
        sk.loghist_sketch(d, "n_chars"), [(1, 2), (9, 10)]).collect()}
    assert on_q == bat_q

    # replay idempotence: re-apply an already-landed batch
    job.apply_batch(parts[1], 1)
    assert _cms_cells(job.profile()["cms"]) == _cms_cells(sk.cms_sketch(d, key))


def test_compact_and_post_compact_ingest(spark, tmp_path):
    """compact folds the subtrees into one per sketch in a new
    generation; the merged values are unchanged; a replayed
    pre-compaction batch is a no-op; new batches keep landing."""
    d = _docs(spark).localCheckpoint()
    job = _job(spark, tmp_path)
    key = "concat(lang, '/', source)"
    parts = [d.filter(f"doc_id % 4 = {i}") for i in range(4)]
    for i, p in enumerate(parts):
        job.apply_batch(p, i)
    assert job.compact(max_batches=8) == 0  # under cap: no-op
    assert job.compact(max_batches=2) == 12  # 4 subtrees x 3 sketches
    assert job.stats()["generation"] == "gen-1"
    assert job.stats()["compacted_through"] == 3
    p = job.profile()
    assert _cms_cells(p["cms"]) == _cms_cells(sk.cms_sketch(d, key))
    assert job.distinct_keys() == sk.kmv_distinct(d, key).collect()[0][
        "kmv_estimate"
    ]
    # replayed pre-compaction batch: folded already -> skip
    job.apply_batch(parts[2], 2)
    assert job.stats()["ingest_batches"] == 1
    # fresh data still lands and merges
    extra = spark.range(900000, 900200).selectExpr(
        "id AS doc_id", "'x' AS text", "'zz' AS lang",
        "'new-source' AS source", "CAST(id % 977 + 1 AS LONG) AS n_chars",
    )
    job.apply_batch(extra, 4)
    whole = d.unionByName(extra)
    assert _cms_cells(job.profile()["cms"]) == _cms_cells(sk.cms_sketch(whole, key))
    assert _loghist_cells(job.profile()["loghist"]) == _loghist_cells(
        sk.loghist_sketch(whole, "n_chars")
    )


def test_manager_profile_job_lifecycle_recover_and_http(spark, tmp_path):
    """The profiler as the sixth managed job type: JobManager create/
    list/metrics/pause/resume/position, recover() on a fresh manager
    (spec is plain JSON end to end), and the HTTP create route —
    including the 400 on a missing required field."""
    import json
    import urllib.request

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.streaming.http_api import ControlServer
    from dtle_spark.streaming.jobs import JobManager

    d = _docs(spark).localCheckpoint()
    src = str(tmp_path / "src")
    os.makedirs(src)
    d.filter("doc_id % 2 = 0").coalesce(1).write.parquet(
        os.path.join(src, "b0"))

    spec_root = str(tmp_path / "specs")
    mgr = JobManager(spark, spec_root=spec_root)
    pj = mgr.create_job(
        "stream_profile", "doc-profile", source_dir=os.path.join(src, "*"),
        profile_root=str(tmp_path / "profile"),
        checkpoint_dir=str(tmp_path / "ck"), key_sql="source",
        value_sql="n_chars",
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    pj.process_available()
    st = mgr.list()["doc-profile"]
    assert st["type"] == "stream_profile" and st["ingest_batches"] == 1
    assert mgr.position("doc-profile")["max_ingest_batch"] == 0
    mgr.pause("doc-profile")

    # second source file while paused; a FRESH manager recovers the job
    # from its JSON spec and drains it from the same checkpoint
    d.filter("doc_id % 2 = 1").coalesce(1).write.parquet(
        os.path.join(src, "b1"))
    mgr2 = JobManager(spark, spec_root=spec_root)
    assert mgr2.recover(start=False) == ["doc-profile"]
    mgr2.resume("doc-profile")
    pj2 = mgr2.get("doc-profile")
    pj2.process_available()
    assert _cms_cells(pj2.profile()["cms"]) == _cms_cells(
        sk.cms_sketch(d, "source"))

    # HTTP create (sixth type) + the missing-field 400
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
        code, err = _http("POST", "/v2/jobs", {
            "name": "p1", "type": "stream_profile",
            "source_dir": os.path.join(src, "*"),
            "profile_root": str(tmp_path / "hprofile"),
            "checkpoint_dir": str(tmp_path / "hck"),
            "key_sql": "lang",
        })
        assert code == 400 and "value_sql" in err["error"]
        code, _ = _http("POST", "/v2/jobs", {
            "name": "p1", "type": "stream_profile",
            "source_dir": os.path.join(src, "*"),
            "profile_root": str(tmp_path / "hprofile"),
            "checkpoint_dir": str(tmp_path / "hck"),
            "key_sql": "lang", "value_sql": "n_chars",
            "width": 128,
            "schema": "doc_id long, text string, lang string, "
                      "source string, n_chars long",
        })
        assert code == 201
        manager.get("p1").process_available()
        assert manager.get("p1").stats()["ingest_batches"] == 2
        code, got = _http("GET", "/v2/job/p1")
        assert code == 200 and got["type"] == "stream_profile"

        # baseline lifecycle over HTTP: gate without a baseline is the
        # job's loud error (400); promote then gate (same data ->
        # passes); thresholds are mandatory
        thr = {"drift:kmv_ratio": 0.05, "drift:loghist_tv": 0.05,
               "drift:cms_tv": 0.05}
        code, err = _http("POST", "/v2/job/p1/drift_gate",
                          {"thresholds": thr})
        assert code == 400 and "no blessed baseline" in err["error"]
        code, got = _http("POST", "/v2/job/p1/promote_baseline", {})
        assert code == 200 and got["baseline"] == "baseline-0"
        code, err = _http("POST", "/v2/job/p1/drift_gate", {})
        assert code == 400 and "thresholds" in err["error"]
        code, got = _http("POST", "/v2/job/p1/drift_gate",
                          {"thresholds": thr, "promote": True})
        assert code == 200 and got["passed"] is True
        assert got["baseline"] == "baseline-1"
        assert {r["check_name"] for r in got["report"]} == set(thr)
        # a non-profiler job 400s
        code, err = _http("POST", "/v2/job/nope/drift_gate",
                          {"thresholds": thr})
        assert code == 404 or code == 400
    finally:
        server.stop()


def test_grouped_drift_gate_catches_vanished_source(spark, tmp_path):
    """The baseline lifecycle in the GROUPED lane: drift_gate judges
    |groups| x checks rows (judge_drift handles the extra grp column),
    and a source that VANISHES between baseline and current fails its
    presence row (+1.0 deviation) even while every surviving group's
    distributions are stable — the per-source promotion gate the
    global lane averages away."""

    def rows(lo, hi, sources):
        n = len(sources)
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id", "'t' AS text", "'en' AS lang",
            f"array({', '.join(repr(s) for s in sources)})"
            f"[CAST(id % {n} AS INT)] AS source",
            "1000 + id % 400 AS n_chars",
        )

    os.makedirs(str(tmp_path / "src"))
    job = _job(spark, tmp_path, group_sql="source")
    job.apply_batch(rows(0, 3000, ["s0", "s1", "s2"]), 0)
    job.promote_baseline()

    thr = {"drift:presence": 0.5, "drift:kmv_ratio": 0.5,
           "drift:loghist_tv": 0.2, "drift:cms_tv": 0.3}
    # source s2 stops arriving; s0/s1 stay stable. The CUMULATIVE
    # profile would still contain s2's history, so model the
    # period-over-period gate: a FRESH profile root for the new
    # period, pointed at the old period's blessed baseline
    import shutil as _sh

    os.makedirs(str(tmp_path / "src2"))
    job2 = StreamProfileJob(
        spark, str(tmp_path / "src2" / "*"), str(tmp_path / "profile2"),
        str(tmp_path / "ck2"), key_sql="concat(lang, '/', source)",
        value_sql="n_chars",
        schema="doc_id long, text string, lang string, "
               "source string, n_chars long",
        group_sql="source",
    )
    job2.apply_batch(rows(3000, 6000, ["s0", "s1"]), 0)
    _sh.copytree(os.path.join(job.profile_root, "_baseline"),
                 os.path.join(job2.profile_root, "_baseline"))
    passed, rep = job2.drift_gate(thr)
    assert not passed
    failing = {(r["check_name"], r["grp"])
               for r in rep.filter("NOT passed").collect()}
    assert ("drift:presence", "s2") in failing
    # the surviving groups' rows all pass
    assert not any(g in ("s0", "s1") for c, g in failing), failing


def test_auto_compact_bounds_sketch_subtrees(spark, tmp_path):
    """auto_compact_batches on the profiler: sketch subtrees self-bound
    over a long stream with zero manual compact() calls, and the merged
    profile still equals the whole-data sketches (additivity survives
    the rolled generations)."""
    d = _docs(spark).localCheckpoint()
    os.makedirs(str(tmp_path / "src"))
    job = _job(spark, tmp_path, auto_compact_batches=2)
    for i in range(6):
        job.apply_batch(d.filter(f"doc_id % 6 = {i}"), i)
        assert job.stats()["ingest_batches"] <= 2, f"batch {i}"
    st = job.stats()
    assert st["compacted_through"] > 0 and st["generation"].startswith("gen-")
    key = "concat(lang, '/', source)"
    p = job.profile()
    assert _cms_cells(p["cms"]) == _cms_cells(sk.cms_sketch(d, key))
    assert _loghist_cells(p["loghist"]) == _loghist_cells(
        sk.loghist_sketch(d, "n_chars")
    )


def test_baseline_lifecycle_gate_and_promote(spark, tmp_path):
    """The profiler's promotion loop as a managed artifact: bless a
    period (promote_baseline, atomic pointer), a same-distribution
    increment passes drift_gate and re-blesses (gate_and_promote), an
    injected shift FAILS the gate and the baseline stays the last
    accepted one. Gating before any promote and gating with an
    unnamed check both fail loud."""

    def rows(lo, hi, keys=40, scale=1):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id", "'t' AS text", "'en' AS lang",
            f"CAST(id % {keys} AS STRING) AS source",
            f"(1000 + id % 500) * {scale} AS n_chars",
        )

    os.makedirs(str(tmp_path / "src"))
    job = _job(spark, tmp_path)
    job.apply_batch(rows(0, 3000), 0)

    thr = {"drift:kmv_ratio": 0.05, "drift:loghist_tv": 0.10,
           "drift:cms_tv": 0.15}
    with pytest.raises(ValueError, match="no blessed baseline"):
        job.drift_gate(thr)
    assert job.promote_baseline() == "baseline-0"
    assert job.stats()["baseline"] == "baseline-0"

    # same-distribution increment: gate passes, state re-blessed
    job.apply_batch(rows(3000, 6000), 1)
    passed, rep = job.gate_and_promote(thr)
    assert passed
    assert rep.filter("NOT passed").count() == 0
    assert {r["check_name"] for r in rep.collect()} == set(thr)
    assert job.stats()["baseline"] == "baseline-1"

    # injected shift (values x16, doubled key space): gate fails,
    # baseline pointer unchanged
    job.apply_batch(rows(6000, 12000, keys=80, scale=16), 2)
    passed, rep = job.gate_and_promote(thr)
    assert not passed
    failed = {r["check_name"] for r in rep.filter("NOT passed").collect()}
    assert "drift:loghist_tv" in failed
    assert job.stats()["baseline"] == "baseline-1"

    # every emitted check needs a named policy (judge_drift raises at
    # execution; the gate's localCheckpoint surfaces it here)
    with pytest.raises(Exception, match="no drift_gate threshold"):
        job.drift_gate({"drift:kmv_ratio": 0.05})


def test_baseline_gc_keep_previous_bounds(spark, tmp_path):
    """write_profile_baseline's GC contract at the edges:
    keep_previous=0 keeps NONE of the old baselines (a bare [-0:]
    slice would keep ALL of them — the inverted contract), and
    keep_previous=1 keeps exactly the one before."""
    from dtle_spark.streaming.profile import write_profile_baseline

    root = str(tmp_path / "base")
    prof = {"kmv": spark.range(3).selectExpr("id AS k")}

    def on_disk():
        return sorted(
            d for d in os.listdir(root) if d.startswith("baseline-")
        )

    assert write_profile_baseline(root, prof, keep_previous=0) == "baseline-0"
    assert write_profile_baseline(root, prof, keep_previous=0) == "baseline-1"
    assert write_profile_baseline(root, prof, keep_previous=0) == "baseline-2"
    assert on_disk() == ["baseline-2"]
    assert write_profile_baseline(root, prof, keep_previous=1) == "baseline-3"
    assert on_disk() == ["baseline-2", "baseline-3"]


def test_drift_gate_detects_injected_shift(spark, tmp_path):
    """The profiler -> DQ bridge (functions/dq.py dq_drift_report):
    a same-distribution second sample reads as near-zero drift; an
    injected shift (values x16, doubled key space) fires all three
    checks. The TV stats' num/denom are exact integer rationals —
    two evaluations agree bit-for-bit."""
    base_rows = spark.range(0, 4000).selectExpr(
        "id AS doc_id", "'t' AS text", "'en' AS lang",
        "CAST(id % 80 AS STRING) AS source",
        "1000 + id % 500 AS n_chars",
    ).localCheckpoint()

    def _profile(rows, name):
        src = str(tmp_path / name / "src")
        os.makedirs(src)
        rows.coalesce(1).write.parquet(os.path.join(src, "b0"))
        job = StreamProfileJob(
            spark, os.path.join(src, "*"),
            str(tmp_path / name / "profile"), str(tmp_path / name / "ck"),
            key_sql="source", value_sql="n_chars",
            schema="doc_id long, text string, lang string, "
                   "source string, n_chars long",
        )
        job.start()
        job.process_available()
        return job

    baseline = _profile(base_rows, "baseline").profile()

    # control: a fresh sample from the SAME distribution
    control_rows = spark.range(4000, 8000).selectExpr(
        "id AS doc_id", "'t' AS text", "'en' AS lang",
        "CAST(id % 80 AS STRING) AS source",
        "1000 + id % 500 AS n_chars",
    )
    control = _profile(control_rows, "control")
    ctl = {r["check_name"]: r for r in control.drift_vs(baseline).collect()}
    assert abs(ctl["drift:kmv_ratio"]["stat"] - 1.0) < 0.01  # same keys
    assert ctl["drift:loghist_tv"]["stat"] < 0.05
    assert ctl["drift:cms_tv"]["stat"] < 0.10

    # injected shift: values jump an octave (x16), key space doubles
    shifted_rows = spark.range(0, 4000).selectExpr(
        "id AS doc_id", "'t' AS text", "'en' AS lang",
        "CAST(id % 160 AS STRING) AS source",
        "(1000 + id % 500) * 16 AS n_chars",
    )
    shifted = _profile(shifted_rows, "shifted")
    rep = shifted.drift_vs(baseline)
    got = {r["check_name"]: r for r in rep.collect()}
    assert got["drift:kmv_ratio"]["stat"] > 1.5
    assert got["drift:loghist_tv"]["stat"] > 0.9  # disjoint octaves
    assert got["drift:cms_tv"]["stat"] > 0.3

    # exactness: ALL rows carry non-NULL integer rationals (the kmv
    # row included since r11 — NULL decimals are a hash-canonicalizer
    # hazard), every integer is float64-exact (< 2^53), stat is
    # num/denom, and a second evaluation reproduces them bit-for-bit
    for name in ("drift:kmv_ratio", "drift:loghist_tv", "drift:cms_tv"):
        r = got[name]
        assert r["drift_num"] is not None and r["drift_denom"] is not None
        assert int(r["drift_num"]) < 2**53 and int(r["drift_denom"]) < 2**53
        assert float(r["drift_num"]) / float(r["drift_denom"]) == pytest.approx(
            r["stat"], abs=0
        )
    again = {r["check_name"]: r for r in rep.collect()}
    for name in got:
        assert (got[name]["drift_num"], got[name]["drift_denom"],
                got[name]["stat"]) == (
            again[name]["drift_num"], again[name]["drift_denom"],
            again[name]["stat"]), name


def test_drift_keys_attributes_moved_keys(spark, tmp_path):
    """The drift ladder's third rung (drift_keys_vs): once the gate
    fires, attribute it — one source's share quadruples while the rest
    hold steady; its probe row must dominate the per-key report. The
    grouped lane refuses the call (attribution is within one sketch
    pair)."""
    from dtle_spark.streaming.profile import StreamProfileJob

    def _profile(rows, name, **kw):
        src = str(tmp_path / name / "src")
        os.makedirs(src)
        rows.coalesce(1).write.parquet(os.path.join(src, "b0"))
        job = StreamProfileJob(
            spark, os.path.join(src, "*"),
            str(tmp_path / name / "profile"), str(tmp_path / name / "ck"),
            key_sql="source", value_sql="n_chars",
            schema="doc_id long, source string, n_chars long",
            **kw,
        )
        job.start()
        job.process_available()
        return job

    base_rows = spark.range(0, 4000).selectExpr(
        "id AS doc_id", "CAST(id % 10 AS STRING) AS source",
        "1000 + id % 500 AS n_chars",
    )
    # source '3' quadruples its share; everything else unchanged
    cur_rows = base_rows.unionAll(
        spark.range(4000, 5200).selectExpr(
            "id AS doc_id", "'3' AS source", "1100 AS n_chars"
        )
    )
    baseline = _profile(base_rows, "kbase").profile()
    cur = _profile(cur_rows, "kcur")
    probes = spark.createDataFrame(
        [(str(i),) for i in range(10)], "key string"
    )
    rep = cur.drift_keys_vs(baseline["cms"], probes)
    rows = {r["key"]: r for r in rep.collect()}
    assert set(rows) == {str(i) for i in range(10)}
    moved, rest = rows["3"], [rows[k] for k in rows if k != "3"]
    assert all(moved["stat"] > r["stat"] for r in rest)
    for r in rows.values():  # the exactness contract, every row
        assert r["drift_num"] is not None and r["drift_denom"] is not None
        assert float(r["drift_num"]) / float(r["drift_denom"]) == r["stat"]

    grouped = _profile(
        spark.range(0, 100).selectExpr(
            "id AS doc_id", "CAST(id % 3 AS STRING) AS source",
            "1000 AS n_chars",
        ),
        "kgrp", group_sql="source",
    )
    with pytest.raises(ValueError, match="grouped lane"):
        grouped.drift_keys_vs(baseline["cms"], probes)


def test_grouped_profiler_end_to_end(spark, tmp_path):
    """The per-group lane (group_sql): grouped sketches per batch,
    per-group additive merge-on-read, compaction preserving the
    grouped profile bit-for-bit, and drift_vs emitting the PER-GROUP
    report — the shifted source fires alone, a new source shows as
    presence -1. Managed-job round trip: group_sql persists in the
    spec kw and recover() rebuilds the grouped lane."""
    from dtle_spark.streaming.jobs import JobManager

    def rows(spark, lo, hi, shift_b=1, with_c=False):
        df = spark.range(lo, hi).selectExpr(
            "id AS doc_id", "'t' AS text", "'en' AS lang",
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS source",
            f"(1000 + id % 500) * (CASE WHEN id % 2 = 1 THEN {shift_b} "
            "ELSE 1 END) AS n_chars",
        )
        if with_c:
            df = df.unionByName(spark.range(0, 200).selectExpr(
                "id + 1000000 AS doc_id", "'t' AS text", "'en' AS lang",
                "'c' AS source", "1000 + id % 500 AS n_chars",
            ))
        return df

    def mk(name, data_batches, spec_root):
        src = str(tmp_path / name / "src")
        os.makedirs(src)
        for i, df in enumerate(data_batches):
            df.coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        mgr = JobManager(spark, spec_root=spec_root)
        job = mgr.create_job(
            "stream_profile", name, source_dir=os.path.join(src, "*"),
            profile_root=str(tmp_path / name / "profile"),
            checkpoint_dir=str(tmp_path / name / "ck"),
            key_sql="doc_id", value_sql="n_chars",
            schema="doc_id long, text string, lang string, "
                   "source string, n_chars long",
            group_sql="source",
        )
        job.process_available()
        return mgr, job

    spec_root = str(tmp_path / "specs")
    _, base_job = mk("base", [rows(spark, 0, 2000)], spec_root)
    baseline = base_job.profile()
    assert base_job.stats()["group_sql"] == "source"

    # current: THREE batches (forces merge-on-read), source b shifted
    # an octave, source c new
    mgr2, cur_job = mk("cur", [
        rows(spark, 2000, 3000, shift_b=16),
        rows(spark, 3000, 4000, shift_b=16),
        rows(spark, 4000, 5000, shift_b=16, with_c=True),
    ], spec_root)

    def report(job):
        return {(r["check_name"], r["grp"]): r
                for r in job.drift_vs(baseline).collect()}

    got = report(cur_job)
    assert got[("drift:presence", "c")]["stat"] == -1.0  # appeared
    assert got[("drift:presence", "a")]["stat"] == 0.0
    assert got[("drift:loghist_tv", "b")]["stat"] > 0.9  # octave shift
    assert got[("drift:loghist_tv", "a")]["stat"] < 0.05
    assert ("drift:loghist_tv", "c") not in got  # one-sided: presence only
    # per-group kmv: both sides' doc_id ranges are disjoint but equal
    # in count per group -> ratio ~1.5 for b? No: current has 1500 odd
    # ids vs baseline's 1000 -> ~1.5; a likewise. Just pin exact-int
    # rationals and positive stats.
    for (c, g), r in got.items():
        assert r["drift_num"] is not None and r["drift_denom"] is not None

    # compaction folds the three subtrees per sketch; the grouped
    # profile (and therefore the report) is unchanged
    assert cur_job.compact(max_batches=1) > 0
    assert report(cur_job) == got

    # recover(): the grouped lane survives the spec round trip
    mgr3 = JobManager(spark, spec_root=spec_root)
    recovered = set(mgr3.recover(start=False))
    assert {"base", "cur"} <= recovered
    rj = mgr3.get("cur")
    assert rj.group_sql == "source"
    rj.process_available() if rj.query else None
    assert report(rj) == got

    # grouped quantiles: source b's median sits an octave above a's
    q = {(r["grp"], r["q"]): r["est"]
         for r in cur_job.value_quantiles([(1, 2)]).collect()}
    assert q[("b", "1/2")] > 8 * q[("a", "1/2")]


def test_profiler_schema_guard(spark, tmp_path):
    """schema_guard on the profiler: additive upstream columns are
    ignored (SQL expressions reference only pinned columns); dropping
    or retyping a pinned column fails loud instead of quietly
    re-shaping the sketch distributions a drift gate compares against
    a pre-change baseline."""
    import pytest as _pytest

    os.makedirs(str(tmp_path / "src"))
    job = _job(spark, tmp_path)

    def rows(schema_sql, vals):
        return spark.createDataFrame(vals, schema_sql)

    base = "doc_id long, text string, lang string, source string, n_chars long"
    job.apply_batch(rows(base, [(1, "t", "en", "s0", 100)]), 0)
    # additive column: ignored, the batch lands
    job.apply_batch(rows(
        base + ", extra string", [(2, "t", "en", "s0", 120, "x")]), 1)
    # back to the original shape: non-event
    job.apply_batch(rows(base, [(3, "t", "en", "s1", 140)]), 2)
    assert job.stats()["ingest_batches"] == 3
    # dropped pinned column: loud
    with _pytest.raises(RuntimeError, match="dropped"):
        job.apply_batch(rows(
            "doc_id long, text string, lang string, source string",
            [(4, "t", "en", "s0")]), 3)
    # retyped pinned column: loud
    with _pytest.raises(RuntimeError, match="retyped"):
        job.apply_batch(rows(
            base.replace("n_chars long", "n_chars double"),
            [(4, "t", "en", "s0", 1.5)]), 3)
