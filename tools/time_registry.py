"""Time every registered query with the noop sink at one SF.

CLI: python tools/time_registry.py [--json OUT.json] [sf_dir] [n_runs]

Spark-only (no oracle) — the optimization-round outlier finder: one
untimed warm-up run of the first query (to absorb JVM and codegen
start-up), then ``n_runs`` noop-timed runs per query (``best`` and
``lower_median`` recorded: the lower median, rs[(n-1)//2] of the sorted
runs, which is the best run when n_runs=2).
Queries ordered by registry insertion.

Each run is split into the DataFrame build (the query function's call)
and its execution (the noop write), each under its own Spark job group.
From the last run, the warmest, each query also records:

- ``build_s``: seconds spent building the DataFrame;
- ``build_jobs``: Spark jobs fired while building (eager pins, scalar
  collects);
- ``build_calls``: py4j commands the driver sent to the JVM while
  building (see :class:`GatewayCommands`), the fixed per-call cost of
  DataFrame construction that ``build_jobs`` does not show;
- ``exec_jobs``: Spark jobs fired by the noop write;
- ``exchanges``: Exchange, BroadcastExchange and ReusedExchange nodes in
  the DataFrame's executed plan, counted after the timed runs.

A query that raises, in the warm-up run too, is recorded as
``{"error": ...}`` and the sweep goes on. If the Spark JVM is gone after
the failure, every later query would fail on the dead gateway, so the
sweep stops instead: the JSON gets an ``aborted`` entry (the query and
its error) and the tool exits 1.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def jvm_alive(sc) -> bool:
    """True while the SparkContext's JVM still answers on the gateway."""
    from py4j.protocol import Py4JError

    try:
        return not sc._jsc.sc().isStopped()
    except (Py4JError, ConnectionError):
        return False


class GatewayCommands:
    """Counts the py4j commands this process sends to the Spark JVM.

    Wraps the gateway client's ``send_command`` in place, so every
    JavaObject call made after construction is counted in ``n``. Object
    deletes (``m\\nd\\n...``) are left out: py4j sends one when Python
    garbage-collects a JavaObject, so when they fall follows the
    collector, not the code being measured."""

    def __init__(self, spark) -> None:
        from py4j import protocol

        delete = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        self.n = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(delete):
                self.n += 1
            return send(command, *args, **kwargs)

        client.send_command = counted


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
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    calls = GatewayCommands(spark)
    results: dict[str, dict] = {}
    aborted = None
    names = list(REGISTRY)
    t_all = time.perf_counter()
    for i, name in enumerate(names):
        fn = REGISTRY[name].fn
        runs = []
        err = None
        # run 0 of the first query is the warm-up: guarded, not timed
        for r in range(n_runs + (i == 0)):
            group = f"time_registry|{name}|{r}"
            t0 = time.perf_counter()
            try:
                sc.setJobGroup(f"{group}|build", name)
                n0 = calls.n
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                n1 = calls.n
                sc.setJobGroup(f"{group}|exec", name)
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - recorded, sweep continues
                err = f"{type(e).__name__}: {e}"[:300]
                break
            if i == 0 and r == 0:
                continue
            runs.append(time.perf_counter() - t0)
            done = df
            layers = {
                "build_s": round(t1 - t0, 3),
                "build_jobs": len(tracker.getJobIdsForGroup(f"{group}|build")),
                "build_calls": n1 - n0,
                "exec_jobs": len(tracker.getJobIdsForGroup(f"{group}|exec")),
            }
        if runs:
            plan = done._jdf.queryExecution().executedPlan().toString()
            layers["exchanges"] = len(
                re.findall(r"\b(?:Exchange|BroadcastExchange|ReusedExchange)\b", plan)
            )
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
                **layers,
            }
        elif jvm_alive(sc):
            results[name] = {"error": err}
        else:
            aborted = {"query": name, "error": err}
            break
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
    if aborted:
        payload["aborted"] = aborted
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
    if aborted:
        print("ABORTED: the Spark JVM died:", json.dumps(aborted), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
