"""Per-query cost decomposition for the optimization round (guide §1).

For each registry query, measures separately:
  - build_s: registry fn() call (Python plan construction incl. any
    driver-side probe collects it performs)
  - exec_s:  df.count() (the bench's timed action)
  - jobs:    Spark jobs launched across build+exec (statusTracker delta)
The best rep (lowest total_s) is the row; ``first`` keeps rep 1 (the cold
call of a fresh process) and ``build_s_median`` the median over all reps.
and writes plans/r21/<name>_before.txt with .explain("formatted").

Usage:
  python3 scripts/profile_queries.py [--plans] [--only name1,name2] [--reps N]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", action="store_true", help="write explain files")
    ap.add_argument("--plandir", default="plans/r21", help="explain output dir")
    ap.add_argument("--suffix", default="_before", help="explain file suffix")
    ap.add_argument("--only", default=None)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--out", default="bench_runs/profile.json")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from doc2vec_spark.registry import all_queries
    from doc2vec_spark.session import get_spark

    spark = get_spark("doc2vec-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = sorted(registry)
    if args.only:
        names = [n for n in args.only.split(",") if n in registry]

    # warm
    registry["tpch_q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001").count()

    tracker = spark.sparkContext.statusTracker()
    results: dict[str, dict] = {}
    plan_dir = Path(_REPO) / args.plandir
    plan_dir.mkdir(parents=True, exist_ok=True)

    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        rows = []
        for _ in range(args.reps):
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            df = registry[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            jb = len(tracker.getJobIdsForGroup(None) or [])
            n = df.count()
            t2 = time.perf_counter()
            j1 = len(tracker.getJobIdsForGroup(None) or [])
            spark.catalog.clearCache()
            rows.append(
                {
                    "build_s": round(t1 - t0, 3),
                    "exec_s": round(t2 - t1, 3),
                    "total_s": round(t2 - t0, 3),
                    "build_jobs": jb - j0,
                    "exec_jobs": j1 - jb,
                    "rows": n,
                }
            )
        best = dict(min(rows, key=lambda r: r["total_s"]))
        best["first"] = rows[0]
        best["build_s_median"] = statistics.median(r["build_s"] for r in rows)
        results[name] = best
        print(
            f"{name}: build={best['build_s']}s exec={best['exec_s']}s "
            f"jobs={best['build_jobs']}+{best['exec_jobs']} rows={best['rows']}",
            file=sys.stderr,
        )
        if args.plans:
            try:
                df = registry[name].fn(spark, sf_dir)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                (plan_dir / f"{name}{args.suffix}.txt").write_text(buf.getvalue())
                spark.catalog.clearCache()
            except Exception as exc:  # noqa: BLE001
                print(f"# plan capture failed for {name}: {exc}", file=sys.stderr)

    out = Path(_REPO) / args.out
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(results, indent=1))
    tot_build = sum(r["build_s"] for r in results.values())
    tot_exec = sum(r["exec_s"] for r in results.values())
    print(
        json.dumps(
            {
                "n": len(results),
                "total_build_s": round(tot_build, 1),
                "total_exec_s": round(tot_exec, 1),
                "total_jobs": sum(
                    r["build_jobs"] + r["exec_jobs"] for r in results.values()
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
