"""Self-tests of the harness, on the smoke-size inputs (a few minutes).

Run from the root of a checkout::

    python3 perfbench/selftest.py

1. Tracing does not change the program: an untraced and a traced
   ``repl_steady`` run over the same seed issue the same number of Spark
   jobs per batch and leave identical target contents.
2. The gates catch wrong output: a corrupted target fails the
   replication gate, and a wrong expected digest fails the slice gate.
3. ``run.py --smoke`` prints, as its last line, a correct result that
   carries exactly the metrics ``BENCHMARK.json`` declares, with their
   units (end-to-end untraced, per-layer traced).

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run


def steady_once(spark, work: str, sf_dir: str, seed: int, traced: bool):
    import repl
    import tracing

    tracer = tracing.Tracer(spark.sparkContext) if traced else None
    inp = repl.prepare_steady(spark, work, sf_dir, seed, run.STEADY_FILES, tracer)
    restore = tracing.instrument_replication(tracer) if tracer else []
    try:
        res = repl.run_steady(spark, inp, 0, tracer)
    finally:
        for undo in reversed(restore):
            undo()
    ok, digests = repl.check(spark, inp, res["target"], res["gtid_path"], res["flushed"])
    tracing.wait_listener_drained(spark.sparkContext)
    jobs = tracing.spark_jobs(spark.sparkContext)
    per_batch = [len(tracing.jobs_between(jobs, b["land_ms"], b["done_ms"])) for b in res["batches"]]
    return inp, res, ok, digests, per_batch


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import gen
    import registry_slice as rs
    import repl

    work = run.make_work_dir("selftest")
    spark = run.start_spark(work)
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    try:
        sf_dir = os.path.join(work, "tables")
        gen.write_tables(sf_dir, run.SMOKE_SF, run.TABLE_SEED)

        _, _, ok0, dig0, jobs0 = steady_once(spark, work, sf_dir, 5, traced=False)
        inp, res, ok1, dig1, jobs1 = steady_once(spark, work, sf_dir, 5, traced=True)
        expect(all(ok0.values()) and all(ok1.values()), f"both runs pass the gate ({ok0}, {ok1})")
        expect(jobs0 == jobs1, f"same Spark jobs per batch untraced/traced ({jobs0} vs {jobs1})")
        expect(dig0 == dig1, "identical target contents untraced/traced")

        orders = inp.target.read(spark, "db1", "orders")
        inp.target.overwrite(orders.filter("o_orderkey % 13 <> 1"), "db1", "orders")
        ok2, _ = repl.check(spark, inp, res["target"], res["gtid_path"], res["flushed"])
        expect(not ok2["orders"] and ok2["lineitem"], f"a corrupted target fails the gate ({ok2})")

        good = rs.load_expected(run.SMOKE_SF)
        wrong = {"where_filter": {**good["where_filter"], "md5": "0" * 32}}
        hit = rs.run_pass(spark, sf_dir, ["where_filter"], expected=good)[0]["ok"]
        miss = rs.run_pass(spark, sf_dir, ["where_filter"], expected=wrong)[0]["ok"]
        expect(hit and not miss, "the slice gate accepts the expected digest and rejects a wrong one")
    finally:
        run.stop(spark, work)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for workload, trace, kind in (("repl_steady", 0, "end_to_end"), ("registry_slice", 1, "per_layer")):
        out = subprocess.run(
            [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload, "--seed", "1",
             "--seconds", "1", "--trace", str(trace), "--smoke"],
            cwd=run.ROOT, capture_output=True, text=True, timeout=300,
        )
        res = json.loads(out.stdout.strip().splitlines()[-1]) if out.returncode == 0 else {}
        want = {m["name"]: m["unit"] for m in bench[kind]}
        got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
        expect(res.get("correct") is True and got == want,
               f"run.py {workload} --trace {trace} prints every {kind} metric, correct")
    print("selftest: " + ("FAILED " + "; ".join(failures) if failures else "all checks passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
