"""Streaming analytics: watermark windows, session windows, custom
stateful operator — driven through real streaming queries (file source
+ memory sink + processAllAvailable)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dtle_spark.tableio import load_table
from dtle_spark.streaming.aggregates import running_totals, session_windows, windowed_counts
from tests.conftest import SF_DIR


@pytest.fixture()
def event_stream(spark, tmp_path):
    src = str(tmp_path / "events")
    ev = load_table(spark, SF_DIR, "events")
    ev.coalesce(1).write.parquet(src + "/b0")
    schema = spark.read.parquet(src + "/b0").schema
    return spark.readStream.schema(schema).parquet(src + "/*"), ev


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_windowed_counts_match_batch(spark, event_stream):
    # complete mode: append would hold back windows the watermark hasn't
    # closed, and a finite drain never closes the last ones
    stream, batch = event_stream
    _run_to_memory(windowed_counts(stream), "wc_out", "complete")
    got = {
        (r["w_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM wc_out").collect()
    }
    expected = {
        (r["w"], r["event_type"]): r["n"]
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected and len(got) > 0


def test_session_windows_run(spark, event_stream):
    stream, batch = event_stream
    _run_to_memory(session_windows(stream), "sw_out", "complete")
    rows = spark.sql("SELECT * FROM sw_out").collect()
    assert len(rows) > 0
    # session count should match the batch sessionizer's session count
    from dtle_spark.queries import REGISTRY

    n_batch_sessions = REGISTRY["sessionize"].spark_fn(spark, SF_DIR).count()
    assert len(rows) == n_batch_sessions


def test_running_totals_stateful(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches."""
    src = str(tmp_path / "ev")
    os.makedirs(src)
    ev = load_table(spark, SF_DIR, "events")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.parquet(src + "/b0")

    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        running_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("rt_out")
        .start()
    )
    q.processAllAvailable()
    half2.coalesce(1).write.parquet(src + "/b1")
    q.processAllAvailable()
    q.stop()

    # latest state per key must equal the full batch totals
    latest = {
        r["user_id"]: r["n_total"]
        for r in spark.sql(
            """SELECT user_id, n_total FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_total DESC) rn
                 FROM rt_out) WHERE rn = 1"""
        ).collect()
    }
    expected = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert latest == expected


def test_late_event_dropped_by_watermark(spark, tmp_path):
    """Append-mode windowed agg: an event behind the watermark does NOT
    restate its (already emitted) window — the late-data bound."""
    import datetime as dt

    src = str(tmp_path / "late")
    os.makedirs(src)
    schema = "ts timestamp, event_type string"
    T = dt.datetime
    b0 = [(T(2024, 1, 1, 12, 5), "a"), (T(2024, 1, 1, 13, 59), "a")]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(src + "/b0")
    stream = (
        spark.readStream.schema(spark.read.parquet(src + "/b0").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    from dtle_spark.streaming.aggregates import windowed_counts

    q = (
        windowed_counts(stream, watermark="1 minute")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    q.processAllAvailable()
    # late event (12:30 < watermark 13:58) + a fresh one to close 13h
    b1 = [(T(2024, 1, 1, 12, 30), "a"), (T(2024, 1, 1, 16, 0), "a")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    q.processAllAvailable()
    q.stop()
    got = {
        r["w_start"].hour: r["n"]
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # 12h window emitted with ONLY the on-time event; the late 12:30
    # arrival was dropped, not re-emitted
    assert got.get(12) == 1
    assert got.get(13) == 1


def test_stateful_sessionize_emits_on_close(spark, tmp_path):
    """Sessions emit exactly once, when the watermark passes the gap."""
    import datetime as dt

    src = str(tmp_path / "sess")
    os.makedirs(src)
    schema = "ts timestamp, user_id long"
    T = dt.datetime
    # user 1: two events 10 min apart (one session)
    b0 = [(T(2024, 1, 1, 10, 0), 1), (T(2024, 1, 1, 10, 10), 1)]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(src + "/b0")
    stream = (
        spark.readStream.schema(spark.read.parquet(src + "/b0").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    from dtle_spark.streaming.aggregates import stateful_sessionize

    q = (
        stateful_sessionize(stream, gap_secs=1800)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    q.processAllAvailable()
    assert spark.sql("SELECT * FROM sess_out").count() == 0  # still open
    # user 2 far in the future advances the watermark past 10:40 -> closes it
    b1 = [(T(2024, 1, 1, 14, 0), 2)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 1 and r["n_events"] == 2
    assert (r["s_start"].minute, r["s_end"].minute) == (0, 10)


def test_stateful_sessionize_gap_split_within_batch(spark, tmp_path):
    """A within-batch gap flushes the first session immediately."""
    import datetime as dt

    src = str(tmp_path / "sess2")
    os.makedirs(src)
    schema = "ts timestamp, user_id long"
    T = dt.datetime
    b0 = [
        (T(2024, 1, 1, 10, 0), 1),
        (T(2024, 1, 1, 10, 5), 1),
        (T(2024, 1, 1, 12, 0), 1),  # > 30 min gap -> new session
    ]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(src + "/b0")
    stream = spark.readStream.schema(
        spark.read.parquet(src + "/b0").schema
    ).parquet(src + "/*")
    from dtle_spark.streaming.aggregates import stateful_sessionize

    q = (
        stateful_sessionize(stream, gap_secs=1800)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess2_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess2_out").collect()
    assert len(rows) == 1  # first session flushed; second still open
    assert rows[0]["n_events"] == 2


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Re-delivered ids inside the watermark emit exactly once."""
    import datetime as dt

    src = str(tmp_path / "dd")
    os.makedirs(src)
    schema = "ts timestamp, event_id long"
    T = dt.datetime
    b0 = [(T(2024, 1, 1, 10, 0), 1), (T(2024, 1, 1, 10, 1), 2)]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(src + "/b0")
    stream = (
        spark.readStream.schema(spark.read.parquet(src + "/b0").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    from dtle_spark.streaming.aggregates import streaming_dedup

    q = (
        streaming_dedup(stream, ["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .start()
    )
    q.processAllAvailable()
    # re-deliver id 1 (same ts) and id 2 (later ts) + a new id 3
    b1 = [(T(2024, 1, 1, 10, 0), 1), (T(2024, 1, 1, 10, 30), 2),
          (T(2024, 1, 1, 10, 31), 3)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT event_id, count(*) n FROM dd_out GROUP BY event_id").collect()
    got = {r["event_id"]: r["n"] for r in rows}
    assert got == {1: 1, 2: 1, 3: 1}


def test_stream_interval_join_matches_batch(spark, event_stream):
    from dtle_spark.streaming.aggregates import stream_interval_join

    stream, batch = event_stream
    views_s = stream.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    clicks_s = stream.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    joined = stream_interval_join(views_s, clicks_s, within="15 minutes")
    # inner stream-stream joins emit on match -> append mode drains fully
    _run_to_memory(joined, "ssj_out", "append")
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    v = batch.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts"), F.col("event_id").alias("vid")
    )
    c = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    expected = {
        (r["vid"], r["cid"])
        for r in v.join(
            c,
            (F.col("vu") == F.col("cu"))
            & (F.col("cts") >= F.col("vts"))
            & (F.col("cts") <= F.col("vts") + F.expr("INTERVAL 15 minutes")),
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_corpus_ingest_dedups_across_batches(spark, tmp_path):
    """Streaming corpus builder: within-batch exact dedup, cross-batch
    near-dup filtering against the accumulated corpus, log-structured
    manifest appends with a batch-id watermark (replay-idempotent),
    per-batch time-travel snapshots."""
    import os

    from dtle_spark.sinks.manifest import TableManifest
    from dtle_spark.streaming.corpus_ingest import CorpusIngestJob

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    b1 = spark.createDataFrame(
        [
            (1, base + " one", "en", "s0"),
            (2, "completely different text about spark query engines", "en", "s0"),
            (3, base + " one", "en", "s0"),  # exact dup of 1 within batch
        ],
        "doc_id long, text string, lang string, source string",
    )
    b1.coalesce(1).write.parquet(os.path.join(src, "b1"))

    job = CorpusIngestJob(
        spark, os.path.join(src, "*"), str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    )
    job.start()
    job.process_available()
    ids1 = {r["doc_id"] for r in job.corpus().select("doc_id").collect()}
    assert ids1 == {1, 2}  # 3 deduped within the batch

    b2 = spark.createDataFrame(
        [
            (10, base + " one", "en", "s1"),  # exact dup of corpus doc 1
            (11, base + " two", "en", "s1"),  # near dup of corpus doc 1
            (12, "fresh unrelated content counting tokens and windows", "en", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    b2.coalesce(1).write.parquet(os.path.join(src, "b2"))
    job.start()
    job.process_available()
    ids2 = {r["doc_id"] for r in job.corpus().select("doc_id").collect()}
    assert ids2 == {1, 2, 12}  # 10 exact-dropped, 11 near-dropped

    # replay the last batch id manually: watermark makes it a no-op
    wm = job.target.seq_watermark("corpus", "documents")["__ingest_batch"]
    job.apply_batch(b2, wm)
    assert {r["doc_id"] for r in job.corpus().select("doc_id").collect()} == ids2

    # time travel: each committed batch left a resolvable snapshot
    tdir = job.target.path("corpus", "documents")
    vs = TableManifest.versions(tdir)
    assert len(vs) >= 2
    first = job.target.read_at_version(spark, "corpus", "documents", vs[0])
    assert {r["doc_id"] for r in first.select("doc_id").collect()} == ids1


def test_streaming_corpus_ingest_within_batch_neardup(spark, tmp_path):
    """ADVICE r4: two NEAR-duplicates arriving in the SAME micro-batch
    must not both survive into the corpus — the within-batch pass
    (probe_index_self, greedy keep-min per pair) drops the larger id
    before the history probe."""
    import os

    from dtle_spark.streaming.corpus_ingest import CorpusIngestJob

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    b1 = spark.createDataFrame(
        [
            (1, base + " one", "en", "s0"),
            (2, base + " two", "en", "s0"),  # near dup of 1, same batch
            (3, "completely different text about spark query engines", "en", "s0"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    b1.coalesce(1).write.parquet(os.path.join(src, "b1"))
    job = CorpusIngestJob(
        spark, os.path.join(src, "*"), str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    )
    job.start()
    job.process_available()
    ids = {r["doc_id"] for r in job.corpus().select("doc_id").collect()}
    assert ids == {1, 3}  # 2 near-dropped within the batch


def test_corpus_ingest_drift_quarantine_lifecycle(spark, tmp_path):
    """The drift quarantine on the streaming corpus builder: a batch
    whose profile fails the gate lands in the quarantine table with
    its judged report and NEVER touches the corpus or its dedup index;
    clean batches keep flowing; a replayed quarantined batch is a
    no-op; release_quarantine() admits a reviewed batch through the
    same dedup path and is idempotent."""
    import os

    from dtle_spark.streaming.corpus_ingest import CorpusIngestJob

    def docs(ids, source, tokens_per_doc=12):
        # per-doc-unique tokens (no accidental near-dups), FIXED token
        # width (doc length must not drift with the id's digit count —
        # the gate tracks the length distribution)
        rows = [
            (i, " ".join(f"w{i:04d}x{j:03d}" for j in range(tokens_per_doc)),
             "en", source)
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )

    src = str(tmp_path / "src")
    os.makedirs(src)
    job = CorpusIngestJob(
        spark, os.path.join(src, "*"), str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"),
        gate_thresholds={"drift:loghist_tv": 0.6, "drift:cms_tv": 0.6},
    )
    # unknown check names fail at construction
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown gate checks"):
        CorpusIngestJob(
            spark, os.path.join(src, "*"), str(tmp_path / "t2"),
            str(tmp_path / "c2"), gate_thresholds={"drift:nope": 0.1},
        )

    # bootstrap: gate configured but un-blessed -> everything ingests
    b0 = docs(range(0, 40), "s0").union(docs(range(40, 80), "s1"))
    job.apply_batch(b0, 0)
    assert job.corpus().count() == 80
    assert job.promote_baseline() == "baseline-0"

    # clean increment: same shape -> passes, corpus grows
    b1 = docs(range(100, 120), "s0").union(docs(range(120, 140), "s1"))
    job.apply_batch(b1, 1)
    assert job.corpus().count() == 120
    assert job.quarantine() is None

    # poisoned increment: new source, 10x lengths -> quarantined
    bad = docs(range(200, 240), "spam", tokens_per_doc=120)
    job.apply_batch(bad, 2)
    assert job.corpus().count() == 120  # corpus untouched
    q = job.quarantine()
    assert q.count() == 40
    assert {r["__q_batch"] for r in q.select("__q_batch").collect()} == {2}
    rep = job.gate_report(2)
    failed = {r["check_name"] for r in rep.filter("NOT passed").collect()}
    assert failed == {"drift:loghist_tv", "drift:cms_tv"}
    # the gate's report rides the decimal lane (emit_decimal=True):
    # the BIGINT 2^53 raise_error guard must never become a
    # stream-killer at large-corpus x large-batch scale; the report is
    # reviewer evidence, not hash-gated output, so decimal is safe
    assert dict(rep.dtypes)["drift_num"].startswith("decimal")

    # replayed quarantined batch: watermark makes it a no-op
    job.apply_batch(bad, 2)
    assert job.quarantine().count() == 40

    # the gate keeps flowing for clean batches after a quarantine
    b3 = docs(range(300, 320), "s0").union(docs(range(320, 340), "s1"))
    job.apply_batch(b3, 3)
    assert job.corpus().count() == 160

    # reviewed + released: enters through the SAME dedup path
    assert job.release_quarantine(2) == 40
    assert job.corpus().count() == 200
    assert job.quarantine().count() == 0
    assert job.release_quarantine(2) == 0  # idempotent
    with _pytest.raises(ValueError, match="no quarantined batch"):
        job.release_quarantine(99)
    # corpus watermark never lowered by the release
    assert job.target.seq_watermark("corpus", "documents")[
        "__ingest_batch"] == 3


def test_corpus_ingest_auto_compact_segments(spark, tmp_path):
    """auto_compact_segments: the corpus table's segment count
    self-bounds over a long append stream (the small-file chore wired
    into the batch loop), content and the batch watermark intact."""
    import os

    from dtle_spark.sinks.manifest import TableManifest
    from dtle_spark.streaming.corpus_ingest import CorpusIngestJob

    src = str(tmp_path / "src")
    os.makedirs(src)
    job = CorpusIngestJob(
        spark, os.path.join(src, "*"), str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"), auto_compact_segments=2,
    )
    for b in range(5):
        rows = [
            (b * 100 + i, " ".join(f"t{b}b{i}x{j}" for j in range(10)),
             "en", "s0")
            for i in range(4)
        ]
        job.apply_batch(spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ), b)
        m = TableManifest.load(job.target.path("corpus", "documents"))
        assert len(m.entries) <= 2, f"batch {b}: {sorted(m.entries)}"
    assert job.corpus().count() == 20
    assert job.target.seq_watermark("corpus", "documents")[
        "__ingest_batch"] == 4
    # replay after a fold: still a no-op
    job.apply_batch(spark.createDataFrame(
        [(1, "x", "en", "s0")],
        "doc_id long, text string, lang string, source string",
    ), 3)
    assert job.corpus().count() == 20


def test_corpus_quarantine_crash_windows_converge(spark, tmp_path):
    """The quarantine lane's two crash windows, injected:

    1. crash AFTER the report write, BEFORE the quarantine append (the
       commit point): the replay overwrites the report and lands the
       append exactly once — no duplicate quarantine rows.
    2. crash AFTER release's ingest commit, BEFORE the released
       marker: re-running release converges — the dedup path's exact
       probes drop the already-landed rows, the corpus has one copy,
       and the marker finally lands."""
    import os

    from dtle_spark.streaming.corpus_ingest import CorpusIngestJob

    def docs(ids, source, tokens_per_doc=12):
        rows = [
            (i, " ".join(f"w{i:04d}x{j:03d}" for j in range(tokens_per_doc)),
             "en", source)
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )

    src = str(tmp_path / "src")
    os.makedirs(src)
    job = CorpusIngestJob(
        spark, os.path.join(src, "*"), str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"),
        gate_thresholds={"drift:loghist_tv": 0.6, "drift:cms_tv": 0.6},
    )
    job.apply_batch(docs(range(0, 40), "s0"), 0)
    job.promote_baseline()

    # window 1: fail the quarantine APPEND on the poisoned batch
    bad = docs(range(200, 220), "spam", tokens_per_doc=120)
    orig_append = job.target.append
    calls = []

    def exploding_append(*a, **kw):
        calls.append(1)
        raise RuntimeError("injected crash before the commit point")

    job.target.append = exploding_append
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="injected crash"):
            job.apply_batch(bad, 1)
    finally:
        job.target.append = orig_append
    assert calls  # the crash hit after the report, at the append
    # report exists from the crashed attempt; table does not
    assert job.gate_report(1).count() > 0
    assert job.quarantine() is None
    # replay converges: exactly one quarantined copy
    job.apply_batch(bad, 1)
    assert job.quarantine().count() == 20
    assert job.gate_report(1).filter("NOT passed").count() > 0

    # window 2: release crashes between the ingest commit and the
    # released marker — simulated by running the ingest half manually
    q = job.target.read(spark, "corpus", "quarantine")
    rows = q.filter("__q_batch = 1").drop("__q_batch").localCheckpoint()
    cur = job.target.seq_watermark("corpus", "documents")["__ingest_batch"]
    job._ingest(rows, cur)            # the crash: marker never written
    assert job.corpus().count() == 60
    assert job.quarantine().count() == 20  # marker missing: still listed
    released = job.release_quarantine(1)   # the retry
    assert released == 20
    assert job.corpus().count() == 60      # dedup dropped the re-ingest
    assert job.quarantine().count() == 0
    assert 1 in job._released()


def test_corpus_purge_documents_takedown(spark, tmp_path):
    """purge_documents: the named docs vanish physically from the
    corpus AND the quarantine table, time travel across the purge is
    severed, streaming replays stay no-ops (watermark rides the swap),
    and — the documented takedown semantics — a re-submission of the
    purged text RE-ENTERS the corpus (its fingerprints vanished with
    the row; a blocklist is a filter policy, not a delete)."""
    import os

    from dtle_spark.sinks.manifest import TableManifest
    from dtle_spark.streaming.corpus_ingest import CorpusIngestJob

    def docs(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )

    src = str(tmp_path / "src")
    os.makedirs(src)
    job = CorpusIngestJob(
        spark, os.path.join(src, "*"), str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"),
    )
    taken = "the exact sentence a rights holder asked us to remove now"
    job.apply_batch(docs([
        (1, taken, "en", "s0"),
        (2, "a completely unrelated document about spark physical plans",
         "en", "s0"),
    ]), 0)
    job.apply_batch(docs([
        (3, "another unrelated one counting shuffle partitions and rows",
         "en", "s0"),
    ]), 1)
    assert job.corpus().count() == 3

    out = job.purge_documents(spark.createDataFrame([(1,)], "doc_id long"))
    assert out == {"documents": 1, "quarantine": 0}
    assert {r["doc_id"] for r in job.corpus().collect()} == {2, 3}
    # time travel severed; watermark intact -> replays still no-op
    p = job.target.path("corpus", "documents")
    assert len(TableManifest.versions(p)) == 1
    job.apply_batch(docs([(9, "late replay", "en", "s0")]), 1)
    assert job.corpus().count() == 2
    # the purged text re-enters: its index rows vanished with it
    job.apply_batch(docs([(50, taken, "en", "s1")]), 2)
    assert {r["doc_id"] for r in job.corpus().collect()} == {2, 3, 50}


def test_gate_report_retention_bounds_report_dirs(spark, tmp_path):
    """Gate reports are batch-sized but were unbounded in COUNT and
    outside the manifest's compaction/takedown story. report_retention
    bounds them: once a quarantined batch is RELEASED its report
    becomes prunable, and only the newest `report_retention` released
    reports survive — while a report whose batch still awaits review
    is never pruned (the reviewer's evidence outranks the bound)."""
    import os

    from dtle_spark.streaming.corpus_ingest import CorpusIngestJob

    def docs(ids, source, tokens_per_doc=12):
        rows = [
            (i, " ".join(f"w{i:04d}x{j:03d}" for j in range(tokens_per_doc)),
             "en", source)
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )

    src = str(tmp_path / "src")
    os.makedirs(src)
    with pytest.raises(ValueError, match="report_retention"):
        CorpusIngestJob(
            spark, os.path.join(src, "*"), str(tmp_path / "t0"),
            str(tmp_path / "c0"), report_retention=0,
        )
    job = CorpusIngestJob(
        spark, os.path.join(src, "*"), str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"),
        gate_thresholds={"drift:loghist_tv": 0.5},
        report_retention=2,
    )
    job.apply_batch(docs(range(0, 40), "s0"), 0)
    assert job.promote_baseline() == "baseline-0"

    def report_dirs():
        root = job._reports_root()
        return sorted(
            int(n.split("=", 1)[1]) for n in os.listdir(root)
            if n.startswith("batch=")
        )

    # four poisoned batches -> four quarantines, four report dirs
    for b in range(1, 5):
        job.apply_batch(
            docs(range(1000 * b, 1000 * b + 10), "spam",
                 tokens_per_doc=120), b)
    assert report_dirs() == [1, 2, 3, 4]

    # releasing makes reports prunable; the bound keeps the newest 2
    # released, and batch 4's report (still pending) is untouchable
    assert job.release_quarantine(1) == 10
    assert report_dirs() == [1, 2, 3, 4]  # 1 released, under the bound
    assert job.release_quarantine(2) == 10
    assert report_dirs() == [1, 2, 3, 4]  # 2 released == retention
    assert job.release_quarantine(3) == 10
    assert report_dirs() == [2, 3, 4]     # oldest released pruned
    assert job.release_quarantine(4) == 10
    assert report_dirs() == [3, 4]
    # the surviving reports still read back
    assert job.gate_report(4).filter("NOT passed").count() >= 1


def test_corpus_chores_refuse_while_stream_active(spark, tmp_path):
    """purge_documents and release_quarantine REFUSE while the ingest
    stream is live: both do load-modify-save manifest swaps on the
    same tables foreachBatch commits to, so racing would erase a
    committed append from the manifest and then physically GC its
    segment. availableNow queries drain too fast to hold open, so the
    guard is exercised against a stubbed live query object — the same
    `query.isActive` surface the real stream exposes."""
    import os

    from dtle_spark.streaming.corpus_ingest import CorpusIngestJob

    src = str(tmp_path / "src")
    os.makedirs(src)
    job = CorpusIngestJob(
        spark, os.path.join(src, "*"), str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"),
    )
    job.apply_batch(spark.createDataFrame(
        [(1, "a doc about manifest swap discipline", "en", "s0")],
        "doc_id long, text string, lang string, source string",
    ), 0)

    class _LiveQuery:
        isActive = True

        def stop(self):
            self.isActive = False

    job.query = _LiveQuery()
    ids = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(RuntimeError, match="PAUSED"):
        job.purge_documents(ids)
    with pytest.raises(RuntimeError, match="PAUSED"):
        job.release_quarantine(0)
    assert job.corpus().count() == 1  # nothing was half-purged
    job.pause()
    assert job.purge_documents(ids) == {"documents": 1, "quarantine": 0}


def test_manager_corpus_ingest_lifecycle_recover_and_http(spark, tmp_path):
    """The corpus builder as the tenth managed job type: create/list/
    pause, recover() on a fresh manager from the plain-JSON spec
    (including the gate config), the HTTP create route with its
    missing-field 400, and promote_baseline over HTTP for a gated
    ingest."""
    import json
    import os
    import urllib.request

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.streaming.http_api import ControlServer
    from dtle_spark.streaming.jobs import JobManager

    def docs(ids, source):
        rows = [
            (i, " ".join(f"w{i:04d}x{j:02d}" for j in range(10)),
             "en", source)
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )

    src = str(tmp_path / "src")
    os.makedirs(src)
    docs(range(0, 30), "s0").coalesce(1).write.parquet(
        os.path.join(src, "b0"))

    spec_root = str(tmp_path / "specs")
    mgr = JobManager(spark, spec_root=spec_root)
    cj = mgr.create_job(
        "corpus_ingest", "corpus1", source_dir=os.path.join(src, "*"),
        target_root=str(tmp_path / "tgt"),
        checkpoint_dir=str(tmp_path / "ck"),
        gate_thresholds={"drift:loghist_tv": 0.5},
    )
    cj.process_available()
    st = mgr.list()["corpus1"]
    assert st["type"] == "corpus_ingest" and st["ingest_batch"] == 0
    assert st["gate"] and st["baseline"] is None
    mgr.pause("corpus1")

    # second source file while paused; a FRESH manager recovers the
    # job — with its gate config — from the JSON spec
    docs(range(100, 130), "s0").coalesce(1).write.parquet(
        os.path.join(src, "b1"))
    mgr2 = JobManager(spark, spec_root=spec_root)
    assert mgr2.recover(start=False) == ["corpus1"]
    cj2 = mgr2.get("corpus1")
    assert cj2.gate_thresholds == {"drift:loghist_tv": 0.5}
    mgr2.resume("corpus1")
    cj2.process_available()
    assert cj2.corpus().count() == 60
    assert mgr2.position("corpus1")["max_ingest_batch"] == 1

    # HTTP: create (tenth type) + missing-field 400 + promote over HTTP
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
            "name": "c1", "type": "corpus_ingest",
            "source_dir": os.path.join(src, "*"),
            "checkpoint_dir": str(tmp_path / "hck"),
            "gate_thresholds": {"drift:loghist_tv": 0.5},
        }
        code, err = _http("POST", "/v2/jobs", body)
        assert code == 400 and "target_root" in err["error"]
        body["target_root"] = str(tmp_path / "htgt")
        code, _ = _http("POST", "/v2/jobs", body)
        assert code == 201
        manager.get("c1").process_available()
        code, got = _http("GET", "/v2/job/c1")
        assert code == 200 and got["type"] == "corpus_ingest"
        assert got["ingest_batch"] == 1
        code, got = _http("POST", "/v2/job/c1/promote_baseline", {})
        assert code == 200 and got["baseline"] == "baseline-0"
        # drift_gate stays a profiler action: the corpus gate runs in
        # the batch loop, not on demand
        code, err = _http("POST", "/v2/job/c1/drift_gate",
                          {"thresholds": {"drift:loghist_tv": 0.5}})
        assert code == 400 and "does not apply" in err["error"]
        # takedown over HTTP: hard delete, ids mandatory
        code, err = _http("POST", "/v2/job/c1/purge", {"ids": []})
        assert code == 400 and "non-empty" in err["error"]
        # refused while the stream is live (manifest-swap race) —
        # stubbed active query, same isActive surface as the stream
        class _Live:
            isActive = True

            def stop(self):
                self.isActive = False

        manager.get("c1").query = _Live()
        code, err = _http("POST", "/v2/job/c1/purge", {"ids": [1]})
        assert code == 400 and "PAUSED" in err["error"]
        manager.get("c1").pause()
        n_before = manager.get("c1").corpus().count()
        victim = manager.get("c1").corpus().select("doc_id").first()[0]
        code, got = _http("POST", "/v2/job/c1/purge", {"ids": [victim]})
        assert code == 200 and got["purged"]["documents"] == 1
        assert manager.get("c1").corpus().count() == n_before - 1

        # reviewer release over HTTP: a poisoned increment (10x doc
        # lengths) is quarantined by the gate, then admitted by the
        # control-plane decision; bad inputs get 400/404, not 500
        code, err = _http("POST", "/v2/job/c1/release_quarantine", {})
        assert code == 400 and "batch_id" in err["error"]
        code, err = _http("POST", "/v2/job/c1/release_quarantine",
                          {"batch_id": 99})
        assert code == 404 and "no quarantined batch" in err["error"]
        rows = [
            (i, " ".join(f"s{i:04d}p{j:02d}" for j in range(100)),
             "en", "spam")
            for i in range(900, 920)
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).coalesce(1).write.parquet(os.path.join(src, "spam1"))
        manager.get("c1").resume()
        manager.get("c1").process_available()
        manager.pause("c1")
        cj1 = manager.get("c1")
        assert cj1.quarantine().count() == 20
        n = cj1.corpus().count()
        code, got = _http("POST", "/v2/job/c1/release_quarantine",
                          {"batch_id": 2})
        assert code == 200 and got["released"] == 20
        assert cj1.corpus().count() == n + 20
        assert cj1.quarantine().count() == 0
    finally:
        server.stop()


def test_subscription_job_streams_debezium_frames(spark, tmp_path):
    """The reference's third job type (subscription-to-Kafka,
    kafka3.go): change log -> Debezium envelope frames + tombstones +
    schema-change topic, streamed with replay-idempotent appends; the
    real producer is the one seam."""
    import json as _json

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.streaming.jobs import JobManager
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    def wire_row(seq, op, after=None, before=None, query=None):
        return Row(
            sid="ab12cd34-0000-1111-2222-333333333333", gno=seq, seq=seq, lc=0,
            op=op, ts=None, schema_name="db1", table_name="t",
            before=before, after=after, query=query,
        )

    src = str(tmp_path / "src")
    os.makedirs(src)
    b0 = [
        wire_row(1, "i", after='{"id":1,"v":10}'),
        wire_row(2, "u", after='{"id":1,"v":11}', before='{"id":1,"v":10}'),
        wire_row(3, "ddl", query="ALTER TABLE db1.t ADD INDEX ix (v)"),
        wire_row(4, "d", before='{"id":1,"v":11}'),
    ]
    spark.createDataFrame(b0, WIRE_SCHEMA).coalesce(1).write.parquet(f"{src}/b0")

    cat = SchemaCatalog()
    cat.register(
        "db1", "t",
        T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"],
    )
    mgr = JobManager(spark)
    sj = mgr.create_subscription(
        JobConfig("sub1", [TableConfig("db1", "t", unique_key=["id"])]),
        f"{src}/*", str(tmp_path / "out"), str(tmp_path / "ckpt"), cat,
    )
    sj.process_available()
    frames = sj.frames().collect()
    by_topic = {}
    for r in frames:
        by_topic.setdefault(r["topic"], []).append(r)
    # data topic: insert + update + delete + tombstone = 4 frames
    data = by_topic["dtle.db1.t"]
    assert len(data) == 4
    vals = [r["value"] for r in data]
    ops = [_json.loads(v)["op"] for v in vals if v is not None]
    assert sorted(ops) == ["c", "d", "u"]
    assert sum(1 for v in vals if v is None) == 1  # the tombstone
    keys = {r["key"] for r in data}
    assert keys == {'{"id":1}'}
    # schema-change topic: one frame per DDL, JSON-null key
    sc = by_topic["schema-changes.dtle"]
    assert len(sc) == 1 and sc[0]["key"] == "null"
    assert _json.loads(sc[0]["value"])["ddl"].startswith("ALTER TABLE")

    # replay idempotence: re-delivering batch 0 is a no-op
    sj.apply_batch(spark.createDataFrame(b0, WIRE_SCHEMA), 0)
    assert sj.frames().count() == len(frames)
    assert mgr.list()["sub1"]["job_type"] == "subscription"
    mgr.pause("sub1")


def test_subscription_ddl_evolves_envelope_schema(spark, tmp_path):
    """DDL flowing through a subscription must evolve the catalog the
    row envelopes parse with (kafka3.go consumes the schema context the
    extractor maintains): an ADD COLUMN mid-stream means rows after the
    barrier carry the new column in their Debezium 'after' image —
    before this fix they parsed with the create-time schema and the
    column silently vanished. The evolved schema also snapshots to
    catalog.json so a recovered subscription keeps it."""
    import json as _json

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.streaming.jobs import JobManager
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    def wire_row(seq, op, after=None, before=None, query=None):
        return Row(
            sid="ab12cd34-0000-1111-2222-333333333333", gno=seq, seq=seq, lc=0,
            op=op, ts=None, schema_name="db1", table_name="t",
            before=before, after=after, query=query,
        )

    src = str(tmp_path / "src")
    os.makedirs(src)
    # one batch: pre-DDL row, ALTER ADD COLUMN, post-DDL row using it
    b0 = [
        wire_row(1, "i", after='{"id":1,"v":10}'),
        wire_row(2, "ddl", query="ALTER TABLE db1.t ADD COLUMN c BIGINT"),
        wire_row(3, "i", after='{"id":2,"v":20,"c":7}'),
    ]
    spark.createDataFrame(b0, WIRE_SCHEMA).coalesce(1).write.parquet(f"{src}/b0")

    cat = SchemaCatalog()
    cat.register(
        "db1", "t",
        T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"],
    )
    ckpt = str(tmp_path / "ckpt")
    mgr = JobManager(spark)
    sj = mgr.create_subscription(
        JobConfig("subddl", [TableConfig("db1", "t", unique_key=["id"])]),
        f"{src}/*", str(tmp_path / "out"), ckpt, cat,
    )
    sj.process_available()
    data = [r for r in sj.frames().collect() if r["topic"] == "dtle.db1.t"]
    after_by_id = {
        _json.loads(r["value"])["after"]["id"]: _json.loads(r["value"])["after"]
        for r in data if r["value"] is not None
    }
    assert "c" not in after_by_id[1]          # pre-DDL image: old schema
    assert after_by_id[2].get("c") == 7       # post-DDL image: new column
    # a second batch keeps the evolved schema
    b1 = [wire_row(4, "i", after='{"id":3,"v":30,"c":9}')]
    spark.createDataFrame(b1, WIRE_SCHEMA).coalesce(1).write.parquet(f"{src}/b1")
    sj.process_available()
    data = [r for r in sj.frames().collect() if r["topic"] == "dtle.db1.t"]
    imgs = {(_json.loads(r["value"])["after"] or {}).get("id"):
            _json.loads(r["value"])["after"]
            for r in data if r["value"] is not None}
    assert imgs[3].get("c") == 9
    # evolved schema snapshotted for recovery
    snap = SchemaCatalog.load(os.path.join(ckpt, "catalog.json"))
    assert snap is not None
    assert "c" in [f.name for f in snap.get("db1", "t").schema.fields]
    mgr.pause("subddl")


def test_subscription_update_and_position_through_manager(spark, tmp_path):
    """JobManager.update and .position must work for the subscription
    job type too (the manager drives every job type through the same
    /v2 surface; SubscriptionJob previously lacked update_config and
    position, so update() raised AttributeError mid-swap)."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.streaming.jobs import JobManager
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame([
        Row(sid="ab12cd34-0000-1111-2222-333333333333", gno=1, seq=1, lc=0,
            op="i", ts=None, schema_name="db1", table_name="t",
            before=None, after='{"id":1,"v":10}', query=None),
    ], WIRE_SCHEMA).coalesce(1).write.parquet(f"{src}/b0")
    cat = SchemaCatalog()
    cat.register("db1", "t", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"])
    mgr = JobManager(spark)
    sj = mgr.create_subscription(
        JobConfig("supd", [TableConfig("db1", "t", unique_key=["id"])]),
        f"{src}/*", str(tmp_path / "out"), str(tmp_path / "ckpt"), cat,
    )
    sj.process_available()
    pos = mgr.position("supd")
    assert pos["frames_batch"] >= 0
    new_cfg = JobConfig("supd", [TableConfig("db1", "t", unique_key=["id"])],
                        trigger_seconds=2.0)
    mgr.update("supd", new_cfg)
    assert sj.job.trigger_seconds == 2.0
    assert sj.query is not None and sj.query.isActive  # resumed
    mgr.pause("supd")


def test_subscription_versions_and_reverse_guard(spark, tmp_path):
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.streaming.jobs import JobManager
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame([
        Row(sid="ab12cd34-0000-1111-2222-333333333333", gno=1, seq=1, lc=0,
            op="i", ts=None, schema_name="db1", table_name="t",
            before=None, after='{"id":1,"v":10}', query=None),
    ], WIRE_SCHEMA).coalesce(1).write.parquet(f"{src}/b0")
    cat = SchemaCatalog()
    cat.register("db1", "t", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"])
    mgr = JobManager(spark)
    mgr.create_subscription(
        JobConfig("svr", [TableConfig("db1", "t", unique_key=["id"])]),
        f"{src}/*", str(tmp_path / "out"), str(tmp_path / "ckpt"), cat,
    )
    mgr.get("svr").process_available()
    mgr.pause("svr")
    vs = mgr.versions("svr")
    assert list(vs) == ["kafka.frames"] and vs["kafka.frames"]
    with pytest.raises(ValueError, match="cannot be reversed"):
        mgr.reverse("svr", src, str(tmp_path / "t2"), str(tmp_path / "c2"), cat)


def test_subscription_finish_drains_then_stops(spark, tmp_path):
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.streaming.jobs import JobManager
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame([
        Row(sid="ab12cd34-0000-1111-2222-333333333333", gno=1, seq=1, lc=0,
            op="i", ts=None, schema_name="db1", table_name="t",
            before=None, after='{"id":1,"v":10}', query=None),
    ], WIRE_SCHEMA).coalesce(1).write.parquet(f"{src}/b0")
    cat = SchemaCatalog()
    cat.register("db1", "t", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"])
    mgr = JobManager(spark)
    sj = mgr.create_subscription(
        JobConfig("sfin", [TableConfig("db1", "t", unique_key=["id"])]),
        f"{src}/*", str(tmp_path / "out"), str(tmp_path / "ckpt"), cat,
    )
    mgr.finish("sfin")
    assert sj.wait_finished()
    st = mgr.metrics("sfin")
    assert st["job_status"] == "target_gtid_finished"
    assert not st["active"]
    assert st["frames"] >= 1  # the available row drained before stop


def test_subscription_catalog_survives_crash_between_commit_and_snapshot(spark, tmp_path):
    """Crash-window repair: frames committed but catalog.json not yet
    saved — the replayed batch must fold the DDL into the snapshot
    exactly once (the marker INSIDE catalog.json gates re-application;
    ADD COLUMN is not idempotent)."""
    import json as _json

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.streaming.subscription import SubscriptionJob
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    def wire_row(seq, op, after=None, query=None):
        return Row(sid="ab12cd34-0000-1111-2222-333333333333", gno=seq, seq=seq,
                   lc=0, op=op, ts=None, schema_name="db1", table_name="t",
                   before=None, after=after, query=query)

    cat = SchemaCatalog()
    cat.register("db1", "t", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"])
    sj = SubscriptionJob(
        spark, JobConfig("crash", [TableConfig("db1", "t", unique_key=["id"])]),
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt"), cat,
    )
    b0 = spark.createDataFrame([
        wire_row(1, "i", after='{"id":1,"v":10}'),
        wire_row(2, "ddl", query="ALTER TABLE db1.t ADD COLUMN c BIGINT"),
    ], WIRE_SCHEMA)
    sj.apply_batch(b0, 0)
    assert sj._catalog_batch() == 0

    # simulate the crash window: frames watermark advanced, but the
    # snapshot reverted to its pre-DDL state (what a crash between
    # append and save leaves on disk)
    pre = SchemaCatalog()
    pre.register("db1", "t", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"])
    pre.save(sj.catalog_path)
    sj2 = SubscriptionJob(
        spark, JobConfig("crash", [TableConfig("db1", "t", unique_key=["id"])]),
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        SchemaCatalog.load(sj.catalog_path),
    )
    assert "c" not in [f.name for f in sj2.catalog.get("db1", "t").schema.fields]
    sj2.apply_batch(b0, 0)  # replay: watermark skips frames, repairs catalog
    assert "c" in [f.name for f in sj2.catalog.get("db1", "t").schema.fields]
    snap = _json.load(open(sj.catalog_path))
    assert snap["__frames_batch"] == 0
    # a SECOND replay must not double-apply (marker now current)
    cols_before = [f.name for f in sj2.catalog.get("db1", "t").schema.fields]
    sj2.apply_batch(b0, 0)
    assert [f.name for f in sj2.catalog.get("db1", "t").schema.fields] == cols_before
    # frames were NOT duplicated by either replay
    assert sj2.frames().count() == sj.frames().count()


def test_subscription_retry_after_failed_append_no_duplicate_fields(spark, tmp_path):
    """The failed-batch in-process retry: the frames append THROWS
    mid-batch (sink hiccup), the stream re-runs the same batch, and it
    must succeed with the DDL applied exactly once. Before the
    copy-and-swap fix, apply_batch mutated self.catalog while BUILDING
    the frames, so the retry replayed ADD COLUMN onto an already-
    evolved catalog -> duplicate fields (the r7 ADVICE medium)."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.streaming.subscription import SubscriptionJob
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    def wire_row(seq, op, after=None, query=None):
        return Row(sid="ab12cd34-0000-1111-2222-333333333333", gno=seq, seq=seq,
                   lc=0, op=op, ts=None, schema_name="db1", table_name="t",
                   before=None, after=after, query=query)

    cat = SchemaCatalog()
    cat.register("db1", "t", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"])
    sj = SubscriptionJob(
        spark, JobConfig("retry", [TableConfig("db1", "t", unique_key=["id"])]),
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt"), cat,
    )
    b0 = spark.createDataFrame([
        wire_row(1, "i", after='{"id":1,"v":10}'),
        wire_row(2, "ddl", query="ALTER TABLE db1.t ADD COLUMN c BIGINT"),
        wire_row(3, "i", after='{"id":2,"v":20,"c":7}'),
    ], WIRE_SCHEMA)

    real_append = sj.target.append
    calls = {"n": 0}

    def flaky_append(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected sink failure")
        return real_append(*a, **kw)

    sj.target.append = flaky_append
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected"):
        sj.apply_batch(b0, 0)
    # the failed attempt must leave the catalog pristine (pre-DDL)
    fields = [f.name for f in cat.get("db1", "t").schema.fields]
    assert fields == ["id", "v"], fields
    # in-process retry of the SAME batch (what the stream does)
    sj.apply_batch(b0, 0)
    fields = [f.name for f in cat.get("db1", "t").schema.fields]
    assert fields == ["id", "v", "c"], fields  # applied exactly once
    # the caller's catalog reference observes the evolution (restore_
    # from, not a rebind) and frames committed exactly once
    assert cat is sj.catalog
    vals = [r["value"] for r in sj.frames().collect()
            if r["topic"] == "dtle.db1.t" and r["value"] is not None]
    import json as _json
    afters = [_json.loads(v)["after"] for v in vals]
    assert {"id": 2, "v": 20, "c": 7} in afters  # post-DDL row has c


def test_subscription_rejects_dml_sharing_seq_with_ddl(spark, tmp_path):
    """Strict-inequality segmentation would silently DROP a DML row
    whose seq collides with a DDL barrier; the guard fails loud."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.streaming.subscription import SubscriptionJob
    from dtle_spark.streaming.wire import WIRE_SCHEMA

    def wire_row(seq, op, after=None, query=None):
        return Row(sid="ab12cd34-0000-1111-2222-333333333333", gno=seq, seq=seq,
                   lc=0, op=op, ts=None, schema_name="db1", table_name="t",
                   before=None, after=after, query=query)

    cat = SchemaCatalog()
    cat.register("db1", "t", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]),
        ["id"])
    sj = SubscriptionJob(
        spark, JobConfig("clash", [TableConfig("db1", "t", unique_key=["id"])]),
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt"), cat,
    )
    b0 = spark.createDataFrame([
        wire_row(1, "i", after='{"id":1,"v":10}'),
        wire_row(2, "ddl", query="ALTER TABLE db1.t ADD COLUMN c BIGINT"),
        wire_row(2, "i", after='{"id":2,"v":20}'),  # seq collides with DDL
    ], WIRE_SCHEMA)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="share a seq"):
        sj.apply_batch(b0, 0)
