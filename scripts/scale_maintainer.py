"""Maintained-store scaling: drive CorpusIngestJob as a LONG stream at
1x (sf0.1: 5k docs = 10 batches of 500) and 10x (scale tier: 50k docs
= 100 batches of 500) and record EVERY batch's wall time.

The claim under test (corpus_ingest.py module header): an increment
costs O(increment) hashing plus index equi-joins against the stored
dedup index — history is never re-hashed — and auto_compact_segments
bounds read amplification over any stream length. If that holds, the
per-batch cost stays ~flat as the corpus grows 10x and the tail of a
100-batch stream prices like its head (modulo the amortized
compaction spikes, reported separately).

Output: SCALE_MAINTAINER.json {tier: {batch_times, compactions,
head_mean, tail_mean}} + a summary line per tier. Run QUIESCENT.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BATCH_ROWS = 500

TIERS = {
    "1x": "/root/testdata/sf0.1",
    "10x": os.path.join(REPO, "scale_data", "sf1"),
}


def _storage_bytes(spark) -> int:
    """Memory held by cached/localCheckpointed RDD blocks (bench.py's
    r10 instrument): the maintainers localCheckpoint per batch, and
    compactions checkpoint O(live keys) frames — Spark's ContextCleaner
    frees those blocks only after a DRIVER GC collects their handles,
    so a tight measurement loop on a 16g heap piles them up for
    dozens of batches and the pressure taxes later batches 2-5x
    (observed in the first r15 skew run: a mid-run 4-8s episode with
    recovery — block pressure, not plan cost)."""
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() for i in infos))
    except Exception:
        return -1


def _gc_nudge(spark, threshold: int = 1 << 30) -> int:
    """One explicit driver GC when block storage crosses `threshold`
    (same policy as bench.py's sweep loop). Returns the PRE-nudge
    storage bytes so the per-batch series records the pressure."""
    pre = _storage_bytes(spark)
    if pre > threshold:
        spark.sparkContext._jvm.System.gc()
    return pre


def run_tier(spark, name: str, sf_dir: str, work: str) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from dtle_spark.sinks.manifest import TableManifest
    from dtle_spark.streaming.corpus_ingest import (
        SCHEMA_NAME, TABLE_NAME, CorpusIngestJob,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rn = F.row_number().over(Window.orderBy("doc_id")) - 1
    staged = os.path.join(work, "batches")
    (
        docs.withColumn("__b", (rn / BATCH_ROWS).cast("long"))
        .repartition("__b").write.partitionBy("__b")
        .mode("overwrite").parquet(staged)
    )
    n_batches = len([d for d in os.listdir(staged) if d.startswith("__b=")])

    job = CorpusIngestJob(
        spark, os.path.join(work, "unused-src", "*"),
        os.path.join(work, "tgt"), os.path.join(work, "ckpt"),
        auto_compact_segments=16,
    )
    times, seg_counts = [], []
    for b in range(n_batches):
        batch = spark.read.parquet(
            os.path.join(staged, f"__b={b}")).localCheckpoint()
        _gc_nudge(spark)
        t0 = time.perf_counter()
        job.apply_batch(batch, b)
        times.append(round(time.perf_counter() - t0, 3))
        m = TableManifest.load(job.target.path(SCHEMA_NAME, TABLE_NAME))
        seg_counts.append(len(m.entries) if m else 0)
        print(f"  {name} batch {b}: {times[-1]:.3f}s "
              f"segs={seg_counts[-1]}", file=sys.stderr)
    head = times[: max(3, len(times) // 10)]
    tail = times[-max(3, len(times) // 10):]
    out = {
        "n_batches": n_batches,
        "batch_rows": BATCH_ROWS,
        "corpus_rows": job.corpus().count(),
        "batch_times": times,
        "segment_counts": seg_counts,
        "head_mean": round(sum(head) / len(head), 3),
        "tail_mean": round(sum(tail) / len(tail), 3),
        "total": round(sum(times), 2),
    }
    print(f"{name}: {n_batches} batches, head {out['head_mean']}s "
          f"tail {out['tail_mean']}s total {out['total']}s "
          f"(tail/head {out['tail_mean']/out['head_mean']:.2f})")
    return out


def run_join_tier(
    spark, name: str, sf_dir: str, work: str, n_batches: int,
) -> dict:
    """JoinViewMaintainJob (the KEYED maintained store): seed the full
    orders x customer view, then stream `n_batches` of 500 fact
    UPDATES with auto_compact_batches=8. The claim under test: O(delta)
    per-batch WRITES with merge-on-read fold cost bounded by the
    compaction constant — per-batch time must stay flat over stream
    age; it may scale with the VIEW mass (the fold reads base +
    bounded segments), which the 1x-vs-10x comparison prices."""
    from pyspark.sql import functions as F

    from dtle_spark.model import change_schema
    from dtle_spark.operators.join_view import join_view_of
    from dtle_spark.streaming.join_maintain import JoinViewMaintainJob

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    customer = spark.read.parquet(
        os.path.join(sf_dir, "customer.parquet"))
    dim_dir = os.path.join(work, "dim")
    customer.write.mode("overwrite").parquet(dim_dir)
    dim_cols = {"c_name": "cust_name", "c_mktsegment": "cust_seg"}

    job = JoinViewMaintainJob(
        spark, os.path.join(work, "unused-src", "*"), dim_dir,
        os.path.join(work, "view"), os.path.join(work, "ckpt"),
        key_cols=["o_orderkey"], fk="o_custkey", right_pk="c_custkey",
        right_cols=dim_cols,
        schema=change_schema(orders.schema),
        auto_compact_batches=8,
    )
    job.seed(
        join_view_of(orders, customer, "o_custkey", "c_custkey", dim_cols),
        spark.read.parquet(dim_dir),
    )

    row = F.struct(*[F.col(c) for c in orders.columns])
    bumped = F.struct(*[
        (F.col(c) + 1).alias(c) if c == "o_totalprice" else F.col(c)
        for c in orders.columns
    ])
    times = []
    for b in range(n_batches):
        batch = (
            orders.filter(F.col("o_orderkey") % n_batches == b)
            .limit(500)
            .select(
                F.lit("55555555-5555-5555-5555-555555555555").alias("sid"),
                F.col("o_orderkey").alias("gno"),
                F.col("o_orderkey").alias("seq"),
                F.lit(0).cast("long").alias("lc"),
                F.lit("u").alias("op"),
                F.lit(None).cast("timestamp").alias("ts"),
                F.lit("db1").alias("schema_name"),
                F.lit("orders").alias("table_name"),
                row.alias("before"),
                bumped.alias("after"),
                F.lit(None).cast("string").alias("query"),
            )
            .localCheckpoint()
        )
        _gc_nudge(spark)
        t0 = time.perf_counter()
        job.apply_batch(batch, b)
        times.append(round(time.perf_counter() - t0, 3))
        print(f"  join {name} batch {b}: {times[-1]:.3f}s",
              file=sys.stderr)
    head = times[: max(3, len(times) // 10)]
    tail = times[-max(3, len(times) // 10):]
    out = {
        "n_batches": n_batches,
        "batch_rows": 500,
        "view_rows": job.view().count(),
        "batch_times": times,
        "head_mean": round(sum(head) / len(head), 3),
        "tail_mean": round(sum(tail) / len(tail), 3),
        "total": round(sum(times), 2),
    }
    print(f"join {name}: {n_batches} batches, head {out['head_mean']}s "
          f"tail {out['tail_mean']}s total {out['total']}s "
          f"(tail/head {out['tail_mean']/out['head_mean']:.2f})")
    return out


def run_vector_tier(spark, name: str, sf_dir: str, work: str) -> dict:
    """VectorIndexMaintainJob + AnnServingJob at tier scale: stream the
    tier's embeddings in 500-row batches into the cell-partitioned
    IVF-PQ index (auto_compact_batches=16 so the merge-on-read fold
    triggers MID-STREAM and its pause is measured in-line), serving a
    fixed query batch every 5 maintain batches. Claims under test:
    (a) maintain cost is O(batch) — flat over stream age regardless of
    accumulated index mass; (b) the compaction pause is bounded (one
    fold of bounded subtrees, visible as isolated spikes, not a trend);
    (c) serve cost tracks LIVE INDEX MASS in the probed cells (the
    documented nprobe/n_cells pricing — it may grow within a tier as
    the index fills; the scaling rule is cells ∝ corpus, re-train to
    keep cell occupancy constant)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dtle_spark.functions import similarity as sim
    from dtle_spark.streaming.ann_serving import (
        AnnServingJob,
        VectorIndexMaintainJob,
    )

    pq = dict(k=10, nprobe=4, m=8, ksub=16, dim=64)
    e = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    tr = sim.md5_train_sample(e)
    cent = sim.ivf_exact_mean_centroids(tr, k=16).localCheckpoint()
    cb = sim.pq_refine(
        tr, sim.pq_codebook(tr, m=8, ksub=16, means=cent),
        steps=2, m=8, ksub=16,
    ).localCheckpoint()

    rn = F.row_number().over(Window.orderBy("vec_id")) - 1
    staged = os.path.join(work, "vbatches")
    (
        e.withColumn("__b", (rn / BATCH_ROWS).cast("long"))
        .repartition("__b").write.partitionBy("__b")
        .mode("overwrite").parquet(staged)
    )
    n_batches = len([d for d in os.listdir(staged) if d.startswith("__b=")])
    queries = e.filter(F.col("vec_id") % 211 == 0).localCheckpoint()

    index_root = os.path.join(work, "index")
    mj = VectorIndexMaintainJob(
        spark, os.path.join(work, "unused-src", "*"), index_root,
        os.path.join(work, "mck"), cent, cb,
        m=pq["m"], ksub=pq["ksub"], dim=pq["dim"],
        auto_compact_batches=16,
    )
    sj = AnnServingJob(
        spark, os.path.join(work, "unused-q", "*"), index_root,
        os.path.join(work, "results"), os.path.join(work, "sck"),
        cent, cb, **pq,
    )
    serve_every = 5 if n_batches >= 10 else 2
    times, serve_times, compactions = [], [], []
    for b in range(n_batches):
        batch = spark.read.parquet(
            os.path.join(staged, f"__b={b}")).localCheckpoint()
        before = mj.position()["compacted_through"]
        _gc_nudge(spark)
        t0 = time.perf_counter()
        mj.apply_batch(batch, b)
        times.append(round(time.perf_counter() - t0, 3))
        if mj.position()["compacted_through"] != before:
            compactions.append(b)
        served = b % serve_every == serve_every - 1
        if served:
            t0 = time.perf_counter()
            sj.apply_batch(queries, b)
            serve_times.append(round(time.perf_counter() - t0, 3))
        print(f"  vector {name} batch {b}: {times[-1]:.3f}s"
              + (f" serve={serve_times[-1]:.3f}s" if served else ""),
              file=sys.stderr)
    head = times[: max(3, len(times) // 10)]
    tail = times[-max(3, len(times) // 10):]
    out = {
        "n_batches": n_batches,
        "batch_rows": BATCH_ROWS,
        "index_rows": mj.live_index().count(),
        "batch_times": times,
        "serve_times": serve_times,
        "compaction_batches": compactions,
        "head_mean": round(sum(head) / len(head), 3),
        "tail_mean": round(sum(tail) / len(tail), 3),
        "serve_head": serve_times[0] if serve_times else None,
        "serve_tail": serve_times[-1] if serve_times else None,
        "total": round(sum(times), 2),
    }
    print(f"vector {name}: {n_batches} batches, head {out['head_mean']}s "
          f"tail {out['tail_mean']}s compactions@{compactions} "
          f"serve {out['serve_head']}->{out['serve_tail']}s")
    return out


def run_history_tier(
    spark, name: str, sf_dir: str, work: str, n_batches: int,
) -> dict:
    """Scd2HistoryJob at tier scale: seed the full orders snapshot,
    then stream `n_batches` of 500 single-key updates with
    auto_compact_batches=8. Claim under test: per-batch cost is
    O(batch) event derivation + an O(batch)-keys merge-on-read fold
    bounded by the compaction constant — flat over stream age; the
    seeded history MASS (1x vs 10x) prices the compaction fold, not
    the steady-state batch."""
    from pyspark.sql import functions as F

    from dtle_spark.streaming.history import Scd2HistoryJob

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    job = Scd2HistoryJob(
        spark, os.path.join(work, "unused-src", "*"),
        os.path.join(work, "hist"), os.path.join(work, "ckpt"),
        key_cols=["o_orderkey"],
        auto_compact_batches=8,
    )
    job.seed(orders)

    row = F.struct(*[F.col(c) for c in orders.columns])
    bumped = F.struct(*[
        (F.col(c) + 1).alias(c) if c == "o_totalprice" else F.col(c)
        for c in orders.columns
    ])
    times = []
    for b in range(n_batches):
        batch = (
            orders.filter(F.col("o_orderkey") % n_batches == b)
            .limit(500)
            .select(
                F.lit("66666666-6666-6666-6666-666666666666").alias("sid"),
                F.col("o_orderkey").alias("gno"),
                (F.col("o_orderkey") + 1_000_000_000).alias("seq"),
                F.lit(0).cast("long").alias("lc"),
                F.lit("u").alias("op"),
                F.lit(None).cast("timestamp").alias("ts"),
                F.lit("db1").alias("schema_name"),
                F.lit("orders").alias("table_name"),
                row.alias("before"),
                bumped.alias("after"),
                F.lit(None).cast("string").alias("query"),
            )
            .localCheckpoint()
        )
        _gc_nudge(spark)
        t0 = time.perf_counter()
        job.apply_batch(batch, b)
        times.append(round(time.perf_counter() - t0, 3))
        print(f"  history {name} batch {b}: {times[-1]:.3f}s",
              file=sys.stderr)
    head = times[: max(3, len(times) // 10)]
    tail = times[-max(3, len(times) // 10):]
    out = {
        "n_batches": n_batches,
        "batch_rows": 500,
        "seeded_rows": orders.count(),
        "batch_times": times,
        "head_mean": round(sum(head) / len(head), 3),
        "tail_mean": round(sum(tail) / len(tail), 3),
        "total": round(sum(times), 2),
    }
    print(f"history {name}: {n_batches} batches, head {out['head_mean']}s "
          f"tail {out['tail_mean']}s total {out['total']}s "
          f"(tail/head {out['tail_mean']/out['head_mean']:.2f})")
    return out


def run_history_skew_tier(
    spark, name: str, sf_dir: str, work: str, n_batches: int,
    hot_frac: float = 0.8,
) -> dict:
    """Adversarial hot-key stream (VERDICT r14 #2): the bounded-
    compaction claim says per-batch and compaction cost track the
    OPEN-event working set (one event per live key) and the events
    since the last fold — never the closed history. The uniform 10x
    stream could not falsify that: no key's version chain ever grew
    past ~1. Here ``hot_frac`` of every batch's updates hit ONE key
    (distinct ascending seqs, mutating image), growing that key's
    closed-version chain to ~n_batches * 500 * hot_frac (~2.4e4 at 60
    batches) while the remaining updates stay uniform. If the claim
    holds, per-batch cost is flat over stream age and compaction
    spikes do not trend with the hot chain's length; the recorded
    hot_versions count proves the chain actually grew."""
    from pyspark.sql import functions as F

    from dtle_spark.streaming.history import Scd2HistoryJob

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    job = Scd2HistoryJob(
        spark, os.path.join(work, "unused-src", "*"),
        os.path.join(work, "hist"), os.path.join(work, "ckpt"),
        key_cols=["o_orderkey"],
        auto_compact_batches=8,
    )
    job.seed(orders)

    hot = int(orders.agg(F.min("o_orderkey")).first()[0])
    hot_row = orders.filter(
        F.col("o_orderkey") == hot).limit(1).localCheckpoint()
    n_hot = int(500 * hot_frac)
    row = F.struct(*[F.col(c) for c in orders.columns])
    bumped_by = F.struct(*[
        (F.col(c) + F.col("__i") + 1).alias(c)
        if c == "o_totalprice" else F.col(c)
        for c in orders.columns
    ])
    times, compactions, storage = [], [], []
    for b in range(n_batches):
        # hot rows: same key, ascending seqs, image changes per event
        # (each update closes the previous version — a real chain)
        hot_batch = (
            spark.range(n_hot).withColumnRenamed("id", "__i")
            .crossJoin(F.broadcast(hot_row))
            .select(
                F.lit("77777777-7777-7777-7777-777777777777").alias("sid"),
                F.lit(hot).cast("long").alias("gno"),
                (F.lit(b * 1000) + F.col("__i")).cast("long").alias("seq"),
                F.lit(0).cast("long").alias("lc"),
                F.lit("u").alias("op"),
                F.lit(None).cast("timestamp").alias("ts"),
                F.lit("db1").alias("schema_name"),
                F.lit("orders").alias("table_name"),
                row.alias("before"),
                bumped_by.alias("after"),
                F.lit(None).cast("string").alias("query"),
            )
        )
        bumped = F.struct(*[
            (F.col(c) + 1).alias(c) if c == "o_totalprice" else F.col(c)
            for c in orders.columns
        ])
        cold = (
            orders.filter(
                (F.col("o_orderkey") % n_batches == b)
                & (F.col("o_orderkey") != hot)
            )
            .limit(500 - n_hot)
            .select(
                F.lit("77777777-7777-7777-7777-777777777777").alias("sid"),
                F.col("o_orderkey").alias("gno"),
                (F.col("o_orderkey") + 1_000_000_000).alias("seq"),
                F.lit(0).cast("long").alias("lc"),
                F.lit("u").alias("op"),
                F.lit(None).cast("timestamp").alias("ts"),
                F.lit("db1").alias("schema_name"),
                F.lit("orders").alias("table_name"),
                row.alias("before"),
                bumped.alias("after"),
                F.lit(None).cast("string").alias("query"),
            )
        )
        batch = hot_batch.unionByName(cold).localCheckpoint()
        wm0 = job.store.watermark()
        storage.append(_gc_nudge(spark))
        t0 = time.perf_counter()
        job.apply_batch(batch, b)
        times.append(round(time.perf_counter() - t0, 3))
        if job.store.watermark() != wm0:
            compactions.append(b)
        print(f"  history-skew {name} batch {b}: {times[-1]:.3f}s",
              file=sys.stderr)
    hot_versions = (
        job.history().filter(F.col("o_orderkey") == hot).count()
    )
    head = times[: max(3, len(times) // 10)]
    tail = times[-max(3, len(times) // 10):]
    out = {
        "n_batches": n_batches,
        "batch_rows": 500,
        "hot_frac": hot_frac,
        "hot_key": hot,
        "hot_versions": hot_versions,
        "seeded_rows": orders.count(),
        "batch_times": times,
        "compaction_batches": compactions,
        "storage_bytes_pre": storage,
        "head_mean": round(sum(head) / len(head), 3),
        "tail_mean": round(sum(tail) / len(tail), 3),
        "total": round(sum(times), 2),
    }
    print(f"history-skew {name}: {n_batches} batches, "
          f"hot chain {hot_versions} versions, head {out['head_mean']}s "
          f"tail {out['tail_mean']}s total {out['total']}s "
          f"(tail/head {out['tail_mean']/out['head_mean']:.2f})")
    return out


TIER_30X = os.path.join(REPO, "scale_data", "sf3")


def main() -> None:
    from dtle_spark.session import get_spark

    spark = get_spark("scale_maintainer")
    out_path = os.path.join(REPO, "SCALE_MAINTAINER.json")
    try:
        with open(out_path) as f:
            results = json.load(f)
    except (OSError, ValueError):
        results = {}
    which = sys.argv[1] if len(sys.argv) > 1 else "corpus"
    if which in ("corpus", "all"):
        for name, sf_dir in TIERS.items():
            work = os.path.join(REPO, "scale_data", f"_maint_{name}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            results[name] = run_tier(spark, name, sf_dir, work)
            shutil.rmtree(work, ignore_errors=True)
    if which in ("join", "all"):
        for name, sf_dir in TIERS.items():
            n = 20 if name == "1x" else 60
            work = os.path.join(REPO, "scale_data", f"_jmaint_{name}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            results[f"join_{name}"] = run_join_tier(
                spark, name, sf_dir, work, n)
            shutil.rmtree(work, ignore_errors=True)
    if which in ("vector", "all"):
        for name, sf_dir in TIERS.items():
            work = os.path.join(REPO, "scale_data", f"_vmaint_{name}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            results[f"vector_{name}"] = run_vector_tier(
                spark, name, sf_dir, work)
            shutil.rmtree(work, ignore_errors=True)
    if which in ("history", "all"):
        for name, sf_dir in TIERS.items():
            n = 20 if name == "1x" else 60
            work = os.path.join(REPO, "scale_data", f"_hmaint_{name}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            results[f"history_{name}"] = run_history_tier(
                spark, name, sf_dir, work, n)
            shutil.rmtree(work, ignore_errors=True)
    # symmetric 30x evidence for the two r14-added maintainers
    # (VERDICT r14 #5) — the query sweep reaches 30x, so these must too
    if which in ("vector-30x", "30x"):
        work = os.path.join(REPO, "scale_data", "_vmaint_30x")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        results["vector_30x"] = run_vector_tier(spark, "30x", TIER_30X, work)
        shutil.rmtree(work, ignore_errors=True)
    if which in ("history-30x", "30x"):
        work = os.path.join(REPO, "scale_data", "_hmaint_30x")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        results["history_30x"] = run_history_tier(
            spark, "30x", TIER_30X, work, 60)
        shutil.rmtree(work, ignore_errors=True)
    # adversarial hot-key stream against the 10x seed (VERDICT r14 #2)
    if which == "history-skew":
        work = os.path.join(REPO, "scale_data", "_hskew_10x")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        results["history_skew_10x"] = run_history_skew_tier(
            spark, "10x", TIERS["10x"], work, 60)
        shutil.rmtree(work, ignore_errors=True)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
