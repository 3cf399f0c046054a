"""Benchmark of the replication path and a slice of the operator registry.

Run from the root of a checkout::

    python3 perfbench/run.py --workload repl_steady --seed 1 --seconds 10 --trace 0

Workloads (see DESIGN.md for why each is there):

- ``repl_steady``    ``run_snapshot``, then small closed-loop micro-batches
  with one DDL among them;
- ``registry_slice`` 18 registry queries, build and execution timed apart.

Inputs are generated from ``--seed`` inside the checkout; the program only
sees the generated files. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` wraps the program's public entry points from outside and
prints the per-layer metrics. Lines starting with ``#`` are for people:
host facts and settings, the metrics under their descriptive names, and
the error rate. The last line is one JSON object.
``--smoke`` shrinks every input for the harness's own tests (selftest.py).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("repl_steady", "registry_slice")
CPUS = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = CPUS
DRIVER_MEM = "2g"
TABLE_SEED = 7  # the tables are fixed; --seed shapes the traffic
SETUP_REPS = 3

# the log is cut into STEADY_FILES files: the warm-up batches plus what a
# run measures, so little of it is left to drain untimed
STEADY_SF, STEADY_FILES = 0.001, 5
SLICE_SF = 0.002
SMOKE_SF = 0.0005


def host_facts(spark, args) -> dict:
    h = hashlib.md5()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, "dtle_spark"))):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    cpu = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next(line.split(":", 1)[1].strip() for line in f if line.startswith("model name"))
    except (OSError, StopIteration):
        pass
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "program_md5": h.hexdigest(),  # the checkout is not a git tree
        "nproc": os.cpu_count(), "cpu": cpu,
    }


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus the JVM it talks to."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


class Run:
    """One benchmark run: its Spark session, work directory and tracer."""

    def __init__(self, args, spark, work: str, tracer):
        self.args, self.spark, self.work, self.tracer = args, spark, work, tracer
        self.sc = spark.sparkContext
        self.rng = random.Random(args.seed)

    def tables(self, sf: float, rep: int) -> str:
        import gen

        d = os.path.join(self.work, f"tables{rep}")
        gen.write_tables(d, sf, TABLE_SEED)
        return d

    def setup(self, prepare):
        """Run ``prepare(rep)`` SETUP_REPS times; returns the last result
        and the median set-up time."""
        times, out = [], None
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            out = prepare(rep)
            times.append(time.perf_counter() - t0)
        return out, statistics.median(times), times

    def quiesce(self) -> None:
        """Full GC in both processes before a timed region. Cached and
        checkpointed blocks are released only when the driver's JVM
        collects the objects that referenced them."""
        gc.collect()
        self.sc._jvm.System.gc()

    def jobs(self):
        tracing.wait_listener_drained(self.sc)
        return tracing.spark_jobs(self.sc)


def _progress_overheads(progress) -> list[float]:
    """triggerExecution - addBatch (s) for every trigger that had data."""
    out = []
    for p in progress:
        if p["numInputRows"] > 0:
            d = p["durationMs"]
            out.append((d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000)
    return out


def _apply_layers(run: Run, apply_spans: list[dict], n_units: int) -> dict:
    """Per-batch means over the ``pipeline.apply_batch`` spans given."""
    tr = run.tracer
    kids = {}
    for s in tr.spans:
        kids.setdefault(s["parent"], []).append(s)

    def total(name):
        return sum(tr.duration(c) for a in apply_spans for c in kids.get(a["id"], []) if c["name"] == name)

    n = max(1, len(apply_spans))
    merges = [c for a in apply_spans for c in kids.get(a["id"], []) if c["name"] == "sink.stage_merge"]
    durs = [tr.duration(a) for a in apply_spans]
    q = max(1, len(durs) // 4)
    return {
        "pipeline.apply_batch_s": sum(durs) / n,
        "pipeline.bookkeeping_s": sum(tr.self_time(a) for a in apply_spans) / n,
        "pipeline.txspool_split_s": total("pipeline.txspool_split") / n,
        "pipeline.batch_growth": (statistics.mean(durs[-q:]) / statistics.mean(durs[:q])) if durs else 0.0,
        "gtid.fold_s": (total("gtid.load") + total("gtid.add") + total("gtid.save")) / n,
        "sink.stage_merge_s": total("sink.stage_merge") / n,
        "sink.commit_s": total("sink.commit") / n,
        "sink.buckets_touched_frac": (
            statistics.mean(m["touched"] / m["n_buckets"] for m in merges) if merges else 0.0
        ),
        "sink.ddl_overwrite_s": total("sink.overwrite") / max(1, n_units),
    }


def _stage_layers(run: Run, jobs, within, n_units: int, change_rows: int) -> dict:
    tot = tracing.layer_totals(run.sc, run.tracer, jobs, within)
    out = {}
    for layer, m in tot.items():
        for k in ("task_cpu_s", "shuffle_bytes", "spill_bytes"):
            out[f"{layer}.{k}"] = m[k] / max(1, n_units)
    out["sink.rows_written_per_change"] = tot["sink"]["output_records"] / max(1, change_rows)
    return out


def _under(tracer, name: str, refs) -> callable:
    def within(rec) -> bool:
        for a in [rec, *tracer.ancestors(rec)]:
            if a["name"] == name and a["ref"] in refs:
                return True
        return False

    return within


def workload_steady(run: Run, sf: float) -> dict:
    import repl
    from dtle_spark.sources.gtid import GtidSet

    args = run.args
    inp, setup_s, setup_times = run.setup(lambda rep: repl.prepare_steady(
        run.spark, run.work, run.tables(sf, rep), args.seed, STEADY_FILES, run.tracer))
    restore = tracing.instrument_replication(run.tracer) if run.tracer else []
    run.quiesce()
    try:
        res = repl.run_steady(run.spark, inp, args.seconds, run.tracer)
    finally:
        for undo in reversed(restore):
            undo()
    intervals = GtidSet.load(res["gtid_path"]).interval_count()
    ok, _ = repl.check(run.spark, inp, res["target"], res["gtid_path"], res["flushed"])
    batches = res["batches"]
    measured = [b for b in batches if not b["warmup"] and "error" not in b]
    lat = [b["latency_s"] for b in measured]
    rows = sum(b["rows"] for b in measured)
    jobs = run.jobs()
    jobs_per_batch = [len(tracing.jobs_between(jobs, b["land_ms"], b["done_ms"])) for b in measured]
    failed = res["failed"] + sum(not v for v in ok.values())
    attempted = len(batches) + len(ok)
    rows_per_s = rows / sum(lat) if lat else 0.0
    out = {
        "attempted": attempted, "failed": failed, "setup_s": setup_s, "setup_times": setup_times,
        "e2e": {"work_s": repl.median(lat), "rows_per_s": rows_per_s},
        "report": {
            "repl_rows_per_s": rows_per_s,
            "batch_p50_s": repl.median(lat), "batch_samples": len(lat),
            "batch_latencies_s": lat,
            "warmup_batch_s": [b["latency_s"] for b in batches if b["warmup"]],
            "ddl_batch_s": next((b["latency_s"] for b in batches if b["ddl"]), None),
            "rows_per_batch_p50": repl.median([b["rows"] for b in measured]),
            "snapshot_rows_per_s": inp.snapshot_rows / inp.snapshot_s,
            "snapshot_rows": inp.snapshot_rows,
            "untimed_rest_rows": res["rest_rows"],
            "spark_jobs_per_batch": jobs_per_batch,
            "gtid_intervals": intervals,
            "checks": ok,
        },
    }
    if run.tracer:
        tr = run.tracer
        refs = {b["i"] for b in measured}
        in_measured = _under(tr, "repl.batch", refs)
        applies = [s for s in tr.spans if s["name"] == "pipeline.apply_batch" and in_measured(s)]
        layers = _apply_layers(run, applies, len(measured))
        layers.update(_stage_layers(run, jobs, in_measured, len(measured), rows))
        ov = _progress_overheads(res["progress"])[repl.WARMUP_BATCHES:][:len(measured)]
        snaps = [s for s in tr.spans if s["name"] == "snapshot.run_snapshot"]
        in_snapshot = _under(tr, "snapshot.run_snapshot", {None})
        snap_jobs = [j for j in jobs if (rec := tracing.span_of_job(tr, j)) and in_snapshot(rec)]
        layers.update({
            "pipeline.spark_jobs_per_batch": repl.median(jobs_per_batch),
            "stream.trigger_overhead_s": statistics.mean(ov) if ov else 0.0,
            "gtid.intervals": intervals,
            "snapshot.run_s": repl.median([tr.duration(s) for s in snaps]),
            "snapshot.spark_jobs": len(snap_jobs) / len(snaps),
        })
        snap = tracing.layer_totals(run.sc, tr, jobs, in_snapshot)["snapshot"]
        layers.update({f"snapshot.{k}": snap[k] / len(snaps)
                       for k in ("task_cpu_s", "shuffle_bytes", "spill_bytes")})
        out["layers"] = layers
    return out


def workload_slice(run: Run, sf: float) -> dict:
    import registry_slice as rs

    args = run.args
    sf_dir, setup_s, setup_times = run.setup(lambda rep: run.tables(sf, rep))
    expected = rs.load_expected(sf)
    rs.run_pass(run.spark, sf_dir, rs.WARMUP)
    run.quiesce()
    passes = []
    t_start = time.perf_counter()
    # whole passes that fit in --seconds, at least one; each query's
    # result is checked right after its timed run
    while not passes or (time.perf_counter() - t_start) * (len(passes) + 1) / len(passes) <= args.seconds:
        order = list(rs.QUERIES)
        run.rng.shuffle(order)
        passes.append(rs.run_pass(run.spark, sf_dir, order, run.tracer, expected))
    failed = sum(not r["ok"] for p in passes for r in p)
    jobs = run.jobs()
    for p in passes:
        for r in p:  # a query that raised counts as failed and as zero time
            for part in ("build", "exec"):
                r.setdefault(f"{part}_s", 0.0)
                window = r.get(f"{part}_ms")
                r[f"{part}_jobs"] = len(tracing.jobs_between(jobs, *window)) if window else 0
    walls = [sum(r["build_s"] + r["exec_s"] for r in p) for p in passes]
    result_rows = sum(expected[q]["rows"] for q in rs.QUERIES)
    out = {
        "attempted": sum(len(p) for p in passes), "failed": failed,
        "setup_s": setup_s, "setup_times": setup_times,
        "e2e": {"work_s": statistics.median(walls),
                "rows_per_s": statistics.median(result_rows / w for w in walls)},
        "report": {
            "slice_wall_s": statistics.median(walls), "passes": len(passes), "pass_walls_s": walls,
            "mismatched": sorted({r["name"] for p in passes for r in p if not r["ok"]}),
            "errors": {r["name"]: r["error"] for p in passes for r in p if "error" in r},
            "queries": {r["name"]: [round(r["build_s"], 4), round(r["exec_s"], 4),
                                    r["build_jobs"] + r["exec_jobs"]] for r in passes[-1]},
        },
    }
    if run.tracer:
        n = len(passes)
        layers = {}
        for q in rs.QUERIES:
            recs = [r for p in passes for r in p if r["name"] == q]
            layers[f"q.{q}.build_s"] = statistics.mean(r["build_s"] for r in recs)
            layers[f"q.{q}.exec_s"] = statistics.mean(r["exec_s"] for r in recs)
            layers[f"q.{q}.jobs"] = statistics.mean(r["build_jobs"] + r["exec_jobs"] for r in recs)
        layers["queries.build_s"] = sum(r["build_s"] for p in passes for r in p) / n
        layers["queries.exec_s"] = sum(r["exec_s"] for p in passes for r in p) / n
        layers["queries.jobs"] = sum(r["build_jobs"] + r["exec_jobs"] for p in passes for r in p) / n
        layers.update(_stage_layers(run, jobs, lambda rec: True, n, 0))
        out["layers"] = layers
    return out


RUNNERS = {
    "repl_steady": (workload_steady, STEADY_SF),
    "registry_slice": (workload_slice, SLICE_SF),
}

# every per-layer metric BENCHMARK.json declares; a layer a workload does
# not reach reports 0
PER_LAYER_UNITS = {
    "pipeline.apply_batch_s": "s", "pipeline.bookkeeping_s": "s",
    "pipeline.spark_jobs_per_batch": "count", "pipeline.txspool_split_s": "s",
    "pipeline.batch_growth": "ratio", "stream.trigger_overhead_s": "s",
    "gtid.fold_s": "s", "gtid.intervals": "count",
    "sink.stage_merge_s": "s", "sink.commit_s": "s", "sink.rows_written_per_change": "ratio",
    "sink.buckets_touched_frac": "ratio", "sink.ddl_overwrite_s": "s",
    "snapshot.run_s": "s", "snapshot.spark_jobs": "count",
    **{f"{layer}.{k}": u for layer in ("pipeline", "sink", "snapshot", "queries")
       for k, u in (("task_cpu_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))},
    "queries.build_s": "s", "queries.exec_s": "s", "queries.jobs": "count",
    "trace.work_s": "s", "trace.bookkeeping_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from registry_slice import QUERIES

    units = dict(PER_LAYER_UNITS)
    for q in QUERIES:
        units.update({f"q.{q}.build_s": "s", f"q.{q}.exec_s": "s", f"q.{q}.jobs": "count"})
    return units


E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MiB", "work_s": "s", "rows_per_s": "rows/s"}
# units of the descriptive names on the "# report" line
REPORT_UNITS = {
    "setup_s": "s", "jvm_start_s": "s", "peak_rss_mb": "MiB", "error_rate": "ratio",
    "repl_rows_per_s": "rows/s", "batch_p50_s": "s", "ddl_batch_s": "s",
    "snapshot_rows_per_s": "rows/s", "slice_wall_s": "s",
}


def start_spark(work: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    from dtle_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark("perfbench", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf={
        "spark.local.dir": tmp,
        # the whole heap from the start: peak RSS then tracks the work,
        # not when the JVM happened to grow its heap
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the per-batch job windows read the status store at the end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help=f"tiny inputs (sf{SMOKE_SF})")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dtle_spark")):
        print(f"no dtle_spark package under {ROOT}: run from a checkout of the program",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = make_work_dir(args.workload)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        jvm_s = time.perf_counter() - t0

        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        print("# host " + json.dumps(host_facts(spark, args)), flush=True)
        fn, sf = RUNNERS[args.workload]
        res = fn(Run(args, spark, work, tracer), SMOKE_SF if args.smoke else sf)
        rss = peak_rss_mb(spark)
        setup_s = jvm_s + res["setup_s"]
        report = {"setup_s": setup_s, "jvm_start_s": jvm_s, "setup_reps_s": res["setup_times"],
                  "peak_rss_mb": rss, "error_rate": res["failed"] / res["attempted"],
                  **res["report"]}
        report["units"] = {k: v for k, v in REPORT_UNITS.items() if k in report}
        print("# report " + json.dumps(report, default=str), flush=True)
        if tracer:
            units = per_layer_units()
            layers = {k: 0.0 for k in units}
            layers.update(res["layers"])
            layers["trace.work_s"] = res["e2e"]["work_s"]
            layers["trace.bookkeeping_s"] = tracer.overhead_s
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")
            tracer.dump(spans)
            print(f"# spans {os.path.relpath(spans, ROOT)} ({len(tracer.spans)} spans); tracing "
                  f"overhead = trace.work_s minus the untraced work_s", flush=True)
            metrics = {k: {"value": float(layers[k]), "unit": units[k]} for k in units}
        else:
            vals = {"setup_s": setup_s, "peak_rss_mb": rss, **res["e2e"]}
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in E2E_UNITS.items()}
        print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}), flush=True)
        return 0
    finally:
        stop(spark, work)


def make_work_dir(name: str) -> str:
    """A fresh work directory inside the checkout. Temporary files of
    Python and of the JVMs Spark starts go there too."""
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return work


def stop(spark, work: str) -> None:
    """Stop Spark, wait for its JVM to exit, remove the work directory."""
    if spark is not None:
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
