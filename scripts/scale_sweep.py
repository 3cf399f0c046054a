"""Scale-tier sweep: run the heaviest registry queries at 1x
(driver sf0.1), 3x and 10x (scripts/make_scale_tier.py tiers) and fit
each query's scaling exponent — the measured evidence behind SCALE.md's
100 TB extrapolations (a bucketed/broadcast plan should be ~linear in
rows; materially super-linear exponents get adjudicated there).

Each tier runs through bench.py itself (one subprocess per tier:
fresh JVM, its warmups, GC hygiene, min-of-3) with
SPARK_GRAFT_BENCH_ONLY restricting to the sweep set. Exponent = the
least-squares slope of log(t) over log(scale) across the three
points; r10x = t(10x)/t(1x). Output: SCALE_SWEEP.json + a table on
stdout. Run QUIESCENT — nothing else on the box.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the r12-close heaviest 16 plus the plans the r12 verdict named as
# where super-linear surprises would live (connected components,
# the coreset window/top-n, banded LSH) and q1 as the linear anchor
QUERIES = [
    "cdc_star_view_lineitem", "leakage_safe_split", "ann_topk_ivf_pq",
    "ann_topk_pq", "incremental_dedup", "cdc_minmax_orders",
    "canonical_docs", "hybrid_rrf", "snapshot_diff_orders",
    "cdc_join_view_orders", "snapshot_diff_triaged_orders",
    "q8_market_share", "dq_drift_by_priority", "dedup_clusters",
    "span_dedup_materialize", "q21_sole_blamed_supplier",
    "cluster_representatives", "dedup_minhash_lsh", "q1_pricing_summary",
]

ALL_TIERS = {
    1.0: "/root/testdata/sf0.1",
    3.0: os.path.join(REPO, "scale_data", "sf0.3"),
    10.0: os.path.join(REPO, "scale_data", "sf1"),
    30.0: os.path.join(REPO, "scale_data", "sf3"),
}
DEFAULT_TIERS = [1.0, 3.0, 10.0]


def run_tier(sf_dir: str, queries: list[str]) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_ONLY=",".join(queries),
        # tier runs must not overwrite the sf0.1 bench_full.json /
        # bench_last.json record
        SPARK_GRAFT_BENCH_NO_FULL="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, cwd=REPO,
    )
    if out.returncode != 0:
        raise SystemExit(f"bench failed at {sf_dir}:\n{out.stderr[-3000:]}")
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def slope(xs: list[float], ys: list[float]) -> float:
    lx = [math.log(x) for x in xs]
    ly = [math.log(y) for y in ys]
    mx, my = sum(lx) / len(lx), sum(ly) / len(ly)
    num = sum((a - mx) * (b - my) for a, b in zip(lx, ly))
    den = sum((a - mx) ** 2 for a in lx)
    return num / den


def _label(scale: float) -> str:
    return f"t_{scale:g}x"


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", type=float, nargs="+", default=DEFAULT_TIERS,
                    help="scale multipliers to run (1 3 10 30)")
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset (default: the full "
                         "heavy set) — subset runs MERGE into the "
                         "existing SCALE_SWEEP.json per-query rows")
    args = ap.parse_args()
    queries = ([q.strip() for q in args.queries.split(",") if q.strip()]
               if args.queries else QUERIES)

    results = {}
    for scale in args.tiers:
        sf_dir = ALL_TIERS[scale]
        if not os.path.isdir(sf_dir):
            raise SystemExit(
                f"{sf_dir} missing — run scripts/make_scale_tier.py first")
        print(f"== tier {scale:g}x ({sf_dir}) ==", file=sys.stderr)
        rec = run_tier(sf_dir, queries)
        results[scale] = rec
        counters = rec["spark"].values()
        print(f"   total {rec['value']}s  {sum(c['jobs'] for c in counters)} jobs  "
              f"{sum(c['task_cpu_s'] for c in counters):.1f}s task CPU",
              file=sys.stderr)

    out_path = os.path.join(REPO, "SCALE_SWEEP.json")
    try:
        with open(out_path) as f:
            payload = json.load(f)
    except (OSError, ValueError):
        payload = {"queries": {}, "tiers": {}}
    table = payload.setdefault("queries", {})
    for q in queries:
        row = dict(table.get(q) or {})
        row.pop("error", None)
        for scale in args.tiers:
            t = results[scale]["queries"].get(q)
            if t is not None:
                row[_label(scale)] = t
        pts = sorted(
            (float(k[2:-1]), v) for k, v in row.items()
            if k.startswith("t_") and isinstance(v, (int, float))
        )
        if len(pts) >= 2:
            row["exponent"] = round(
                slope([p[0] for p in pts], [p[1] for p in pts]), 2)
            if pts[0][0] == 1.0:
                row["r_max"] = round(pts[-1][1] / pts[0][1], 2)
                row["max_scale"] = pts[-1][0]
        table[q] = row
    payload.setdefault("tiers", {}).update({
        f"{s:g}": {"sf_dir": ALL_TIERS[s], "total": results[s]["value"],
                   "spark": results[s]["spark"]}
        for s in args.tiers
    })
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    w = max(len(q) for q in table)
    cols = sorted({k for r in table.values() for k in r if k.startswith("t_")},
                  key=lambda k: float(k[2:-1]))
    print(f"{'query':<{w}}  " + " ".join(f"{c:>8}" for c in cols)
          + f" {'exp':>5}")
    for q, row in sorted(table.items(),
                         key=lambda kv: -kv[1].get("exponent", 9)):
        cells = " ".join(
            f"{row[c]:>8.3f}" if isinstance(row.get(c), (int, float))
            else f"{'—':>8}" for c in cols)
        print(f"{q:<{w}}  {cells} {row.get('exponent', float('nan')):>5.2f}")


if __name__ == "__main__":
    main()
