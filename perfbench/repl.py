"""The ``repl_steady`` workload, driven through the public API only.

Set-up: ``run_snapshot`` copies the three base tables into an empty
``BucketedTableTarget`` (a whole-table image; the first batch re-buckets
it). Then a closed loop of small micro-batch files: a file lands by
``os.rename`` and the next lands only after
``ReplicationJob.process_available()`` returned (the batch committed).
One ``ALTER TABLE ... ADD COLUMN ... DEFAULT`` on customer lands inside
the measured window.

The run ends with the stream paused, ``flush_spool()`` and a correctness
gate outside every timed region: the three targets against DuckDB
restatements, and the applied GTIDs against the source's transactions.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import stream
from registry_slice import result_digest
from tracing import optional_span

N_BUCKETS = 8
WARMUP_BATCHES = 2
MIN_MEASURED = 3  # a median of fewer samples swings with every slow batch

# The DDL lands inside the measured window: after the warm-up files and
# in time to apply within the MIN_MEASURED batches that follow.
DDL_AT = (0.45, 0.60)

CUSTOMER_ORACLE = """
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN c_custkey % 3 = 0 THEN c_acctbal - 2000.0
            ELSE c_acctbal + 4000.0 END AS c_acctbal,
       c_mktsegment,
       CASE WHEN c_custkey < {first_tiered} THEN 'std'
            WHEN c_custkey % 2 = 0 THEN 'gold' ELSE 'silver' END AS c_tier
FROM customer WHERE c_custkey % 4 <> 0
"""


class Inputs:
    """Everything a replication run needs before its clock starts."""

    def __init__(self, spark, sf_dir: str, seed: int):
        wire, self.bases, self.row_types = stream.derive(spark, sf_dir)
        self.log, self.first_tiered = stream.build_log(wire, seed, DDL_AT)
        self.sf_dir = sf_dir

    def job(self):
        from dtle_spark.catalog import SchemaCatalog
        from dtle_spark.model import JobConfig, TableConfig

        cat = SchemaCatalog()
        for t, keys in stream.KEYS.items():
            cat.register("db1", t, self.row_types[t], keys)
        job = JobConfig(
            "perfbench",
            [TableConfig("db1", t, unique_key=keys) for t, keys in stream.KEYS.items()],
            trigger_seconds=0.05,
            tx_atomic=True,
        )
        return job, cat


def target_class(tracer):
    from dtle_spark.sinks.table_sink import BucketedTableTarget

    if tracer is None:
        return BucketedTableTarget
    from tracing import traced_target_class

    return traced_target_class(tracer)


def _dirs(work: str, name: str) -> dict[str, str]:
    root = os.path.join(work, name)
    shutil.rmtree(root, ignore_errors=True)
    d = {k: os.path.join(root, k) for k in ("src", "staging", "target", "ckpt")}
    for k in ("src", "staging"):
        os.makedirs(d[k])
    return d


def prepare_steady(spark, work: str, sf_dir: str, seed: int, n_files: int, tracer):
    """Set-up: derive the streams, build, cut and stage the log, and
    snapshot the base tables into a fresh target."""
    from dtle_spark.sources.snapshot_job import run_snapshot

    inp = Inputs(spark, sf_dir, seed)
    inp.dirs = _dirs(work, "steady")
    inp.bounds = stream.cut(len(inp.log), n_files, seed)
    inp.files = [stream.stage(inp.log, lo, hi, inp.dirs["staging"], f"f{i:05d}")
                 for i, (lo, hi) in enumerate(inp.bounds)]
    inp.target = target_class(tracer)(inp.dirs["target"], n_buckets=N_BUCKETS)
    job, _ = inp.job()
    with optional_span(tracer, "snapshot.run_snapshot"):
        t0 = time.perf_counter()
        snap = run_snapshot(spark, job, inp.bases, inp.target, inp.dirs["src"])
        inp.snapshot_s = time.perf_counter() - t0
    inp.snapshot_rows = sum(snap.row_counts.values())
    return inp


def _start(spark, inp):
    """The replication job, one file per trigger."""
    from dtle_spark.streaming.pipeline import ReplicationJob

    job, cat = inp.job()
    d = inp.dirs
    return ReplicationJob(
        spark, job, d["src"], d["target"], d["ckpt"], cat,
        max_files_per_trigger=1, target=inp.target,
    ).start()


def _finish(rj, log) -> set:
    """Pause and flush the spool. Returns the transactions the spool
    held: once the whole log is in, each source's last one (its
    heartbeat)."""
    rj.pause()
    rj.flush_spool()
    return {(sid, int(g)) for sid, g in log.groupby("sid")["gno"].max().items()}


def check(spark, inp, target, gtid_path: str, flushed: set) -> tuple[dict, dict]:
    """Correctness gate: each target against its DuckDB restatement, and
    applied GTIDs (plus the transactions ``flush_spool`` applied, which
    it does not record) against the source's transaction set. Returns
    ({check: passed}, {table: digest of the target's contents})."""
    import duckdb

    from dtle_spark.plans import cdc_demo
    from dtle_spark.sources.gtid import GtidSet

    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp.sf_dir}/{t}.parquet')")
    oracles = {
        "orders": cdc_demo.ORDERS_CDC_ORACLE,
        "lineitem": cdc_demo.LINEITEM_CDC_ORACLE,
        "customer": CUSTOMER_ORACLE.format(first_tiered=inp.first_tiered),
    }
    ok, got = {}, {}
    for t, sql in oracles.items():
        res = con.execute(sql)
        want = result_digest([d[0] for d in res.description], res.fetchall())
        df = target.read(spark, "db1", t)
        got[t] = None if df is None else result_digest(df.columns, df.collect())
        ok[t] = got[t] == want
    con.close()
    applied = GtidSet.load(gtid_path)
    for sid, gno in flushed:
        applied.add(sid, gno)
    source = GtidSet()
    for sid, gnos in stream.source_txs(inp.log).items():
        for g in gnos:
            source.add(sid, g)
    ok["gtid"] = applied.to_str() == source.to_str()
    return ok, got


def run_steady(spark, inp, seconds: float, tracer) -> dict:
    """Closed loop over the staged files. Every file is one batch, timed
    from its landing rename until ``process_available()`` returns; the
    first ``WARMUP_BATCHES`` are reported apart. Measurement stops at the
    first batch boundary after ``seconds`` once at least ``MIN_MEASURED``
    batches ran and the DDL has applied (the job's catalog shows the new
    column); the rest of the log then lands as one file, untimed, so the
    gate sees the whole stream."""
    dirs = inp.dirs
    rj = _start(spark, inp)
    batches, failed, ddl_done = [], 0, False
    t_start = None
    for i, (lo, hi) in enumerate(inp.bounds):
        if i == WARMUP_BATCHES:
            t_start = time.perf_counter()
        elif (i - WARMUP_BATCHES >= MIN_MEASURED and ddl_done
              and time.perf_counter() - t_start >= seconds):
            break
        rec = {"i": i, "rows": hi - lo, "warmup": i < WARMUP_BATCHES}
        with optional_span(tracer, "repl.batch", ref=i):
            rec["land_ms"] = time.time() * 1000
            t0 = time.perf_counter()
            stream.land(inp.files[i], dirs["src"])
            try:
                rj.process_available()
            except Exception as e:  # the stream is dead; stop landing
                failed += 1
                rec["error"] = repr(e)[:300]
            rec["latency_s"] = time.perf_counter() - t0
            rec["done_ms"] = time.time() * 1000
        rec["ddl"] = not ddl_done and stream.DDL_COLUMN in rj.catalog.get("db1", "customer").schema.names
        ddl_done = ddl_done or rec["ddl"]
        batches.append(rec)
        if failed:
            break
    rest = 0
    if not failed and len(batches) < len(inp.bounds):
        lo = inp.bounds[len(batches)][0]
        rest = len(inp.log) - lo
        stream.land(stream.stage(inp.log, lo, len(inp.log), dirs["staging"], "rest"), dirs["src"])
        rj.process_available()
    progress = list(rj.query.recentProgress)
    flushed = _finish(rj, inp.log)
    return {"batches": batches, "failed": failed, "rest_rows": rest, "progress": progress,
            "flushed": flushed, "gtid_path": rj.gtid_path, "target": inp.target}


def median(xs):
    return statistics.median(xs) if xs else float("nan")
