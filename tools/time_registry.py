"""Time every registered query with the noop sink at one SF.

CLI: python tools/time_registry.py [--json OUT.json] [sf_dir] [n_runs]

Spark-only (no oracle) — the optimization-round outlier finder: one
warm-up run of the first query, then ``n_runs`` noop-timed runs per
query (``best`` and ``lower_median`` recorded: the lower median,
rs[(n-1)//2] of the sorted runs, which is the best run when n_runs=2).
Queries ordered by registry insertion.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    out_path = None
    if args and args[0] == "--json":
        out_path = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    n_runs = int(args[1]) if len(args) > 1 else 2

    from dissertation_iceberg_spark.queries.registry import (
        REGISTRY,
        _ensure_loaded,
    )
    from dissertation_iceberg_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("time-registry")
    results: dict[str, dict] = {}
    names = list(REGISTRY)
    # one throwaway pass to absorb JVM/codegen warm-up
    REGISTRY[names[0]].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    t_all = time.perf_counter()
    for i, name in enumerate(names):
        fn = REGISTRY[name].fn
        runs = []
        err = None
        for _ in range(n_runs):
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001 - recorded, sweep continues
                err = f"{type(e).__name__}: {e}"[:300]
                break
            runs.append(time.perf_counter() - t0)
        if runs:
            rs = sorted(runs)
            # LOWER median (ADVICE round 9): the contention-robust
            # choice, named for what it is — with the default n_runs=2
            # it equals "best". Older sweeps store a "median" key:
            # SWEEP_r08_before.json holds the upper median rs[len//2]
            # (the worse of two runs), the r09 sweeps this lower median
            results[name] = {
                "best": round(rs[0], 3),
                "lower_median": round(rs[(len(rs) - 1) // 2], 3),
                "n": len(rs),
            }
        else:
            results[name] = {"error": err}
        if (i + 1) % 25 == 0:
            print(
                f"[{i + 1}/{len(names)}] {time.perf_counter() - t_all:.0f}s",
                file=sys.stderr,
                flush=True,
            )
    payload = {
        "sf_dir": sf_dir,
        "n_runs": n_runs,
        "wall_sec": round(time.perf_counter() - t_all, 1),
        "queries": results,
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    # errored queries are listed separately below, not as timings
    top = sorted(
        (
            (v["best"], k)
            for k, v in results.items()
            if "best" in v
        ),
        reverse=True,
    )[:40]
    for b, k in top:
        print(f"{b:8.3f}  {k}")
    errs = {k: v["error"] for k, v in results.items() if "error" in v}
    if errs:
        print("ERRORS:", json.dumps(errs, indent=1))


if __name__ == "__main__":
    main()
