"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default ``tableio.DEFAULT_SF_DIR``, the sf0.1 tier) and prints ONE JSON
line.

Each query is timed in two parts by ``perfbench/registry_slice.run_pass``:
*build* is the ``spark_fn`` call, with whatever it pins or collects
eagerly; *execution* is a ``noop`` write of the returned DataFrame (full
materialisation, nothing collected to the driver). A warmup first absorbs
JVM, codegen and Python-worker startup.

Each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and reports the
MIN of build + execution: the first execution pays JIT and codegen, and a
GC pause lands on whichever query is running. Set it to 1 for
single-sample behaviour.

Wall time moves with host load; Spark's own counters do not. Each
timed pass runs under its own job group; for the fastest pass the
harness reads, from Spark's status tracker and store
(``perfbench/tracing``), the group's jobs, their stages, the executors'
task CPU and the shuffle and spill bytes. A reader comparing
two runs checks whether a slower query also ran more jobs or more task
CPU; if neither moved, the host did.

$SPARK_GRAFT_BENCH_ONLY restricts the run to a comma-separated subset;
$SPARK_GRAFT_BENCH_NO_FULL keeps ``bench_full.json`` and
``bench_last.json`` as they are (scale-tier runs set both).
"""

from __future__ import annotations

import json
import os
import sys

from dtle_spark.tableio import DEFAULT_SF_DIR, load_table
from dtle_spark.queries import REGISTRY
from dtle_spark.session import get_spark

REPO = os.path.dirname(os.path.abspath(__file__))
_PERFBENCH = os.path.join(REPO, "perfbench")
if _PERFBENCH not in sys.path:
    sys.path.append(_PERFBENCH)

import registry_slice  # noqa: E402  (perfbench/)
import tracing  # noqa: E402  (perfbench/)

# orphaned localCheckpoint/broadcast blocks are freed only when a DRIVER
# GC collects their Python-side handles: one GC every 10 queries, plus
# one whenever block storage crosses this many bytes
_GC_BYTES = 1 << 30


def _parallelism_facts(spark) -> dict:
    """What master the JVM runs, how many task slots it schedules, and
    how many CPUs the OS grants this process (a cgroup/affinity cap shows
    up as sched_affinity < cpu_count), so a low-core run proves that it
    ran on fewer cores."""
    sc = spark.sparkContext
    try:
        affinity = len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        affinity = None
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "cpu_count": os.cpu_count(),
        "sched_affinity": affinity,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def _storage_bytes(sc) -> int:
    """Memory held by cached/localCheckpointed RDD blocks."""
    try:
        return int(sum(i.memSize() for i in sc._jsc.sc().getRDDStorageInfo()))
    except Exception:
        return -1


def _timed_pass(spark, sf_dir: str, name: str, group: str) -> dict:
    """One ``run_pass`` of ``name`` with every job it submits in
    ``group`` (registry code starts no driver threads)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    try:
        return {**registry_slice.run_pass(spark, sf_dir, [name])[0], "group": group}
    finally:
        sc.setJobGroup(None, None)


def _spark_counters(sc, rec: dict) -> dict:
    """One ``_timed_pass`` record's build and execution seconds, and
    Spark's counters for it: the jobs of its job group, their distinct
    stage ids (skipped stages included) and the stages' task CPU,
    shuffle read + write bytes and memory + disk spill."""
    tracing.wait_listener_drained(sc)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(rec["group"])
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    m = tracing.stage_metrics(sc, stages)
    return {
        "build_s": round(rec["build_s"], 3),
        "exec_s": round(rec["exec_s"], 3),
        "jobs": len(jobs),
        "stages": len(stages),
        "task_cpu_s": round(m["task_cpu_s"], 3),
        "shuffle_bytes": int(m["shuffle_bytes"]),
        "spill_bytes": int(m["spill_bytes"]),
    }


def _write(name: str, payload: dict) -> None:
    try:
        with open(os.path.join(REPO, name), "w") as f:
            json.dump(payload, f, indent=1)
    except OSError as exc:
        print(f"  {name} not written: {exc}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    registry = REGISTRY
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = sorted(set(names) - set(REGISTRY))
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY unknown: {unknown}")
        registry = {n: REGISTRY[n] for n in names}

    spark = get_spark("dtle_spark_bench")
    sc = spark.sparkContext
    # warmup: JVM, codegen, parquet footer caches
    load_table(spark, sf_dir, "lineitem").count()
    # warmup: the Python/Arrow worker pool (mapInPandas queries otherwise
    # charge ~20s of worker+Arrow cold-start to whichever runs first)
    spark.range(sc.defaultParallelism * 4).repartition(
        sc.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").count()

    timings: dict[str, float] = {}
    counters: dict[str, dict] = {}
    all_samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    since_gc = 0
    for name in registry:
        since_gc += 1
        if since_gc >= 10 or _storage_bytes(sc) > _GC_BYTES:
            since_gc = 0
            sc._jvm.System.gc()
        recs = []
        for i in range(runs):
            rec = _timed_pass(spark, sf_dir, name, f"bench:{name}:{i}")
            if not rec["ok"]:  # one broken query must not zero the bench
                errors[name] = rec["error"]
                print(f"  {name}: ERROR {errors[name]}", file=sys.stderr)
                break
            recs.append(rec)
        if name in errors:
            continue
        samples = [r["build_s"] + r["exec_s"] for r in recs]
        timings[name] = round(min(samples), 3)
        all_samples[name] = [round(s, 3) for s in samples]
        counters[name] = _spark_counters(sc, recs[samples.index(min(samples))])
        c = counters[name]
        print(f"  {name}: {timings[name]:.3f}s (min of {len(samples)}; build "
              f"{c['build_s']:.3f}s, {c['jobs']} jobs, {c['task_cpu_s']:.2f}s task CPU)",
              file=sys.stderr)

    payload = {
        "metric": "registry_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "parallelism": _parallelism_facts(spark),
        "spark": {n: {"jobs": c["jobs"], "task_cpu_s": c["task_cpu_s"]}
                  for n, c in counters.items()},
        **({"errors": errors} if errors else {}),
    }
    if not os.environ.get("SPARK_GRAFT_BENCH_NO_FULL"):
        # the stdout line is recorded with a tail truncation; these two
        # files keep the whole record (every sample and counter) and a
        # copy of the line
        _write("bench_full.json", {
            **payload,
            "spark": counters,
            "runs_per_query": runs,
            "samples": all_samples,
        })
        _write("bench_last.json", payload)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
