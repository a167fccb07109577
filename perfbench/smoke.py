"""Smoke test of the benchmark itself, at sf0.001.

    python3 perfbench/smoke.py [workload ...]

For every workload (default: all), runs the benchmark untraced and
traced with the shortest run length and checks that

- the last line is the result object, with every metric BENCHMARK.json
  declares for that mode, each with its declared unit;
- no query failed or missed its oracle (``failed_frac == 0``);
- the traced run wrote spans for every layer the benchmark times.

Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYER_SPANS = {
    "session.start",
    "registry.import",
    "io.load_table",
    "queries.build",
    "queries.plan",
    "exec",
    "session.pin",
    "streaming.query",
}


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--sf", "0.001", "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {p.returncode}")
    lines = p.stdout.strip().splitlines()
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    return {"result": result, "detail": detail}


def check(workload: str, spec: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = run(workload, trace)
        res = out["result"]
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            raise SystemExit(f"{workload}: result keys {sorted(res)}")
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            missing = sorted(set(want) - set(got))
            wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
            raise SystemExit(f"{workload} trace={trace}: missing {missing}, wrong unit {wrong}")
        if res["failed"] or not res["correct"] or out["detail"]["failed_frac"] != 0:
            raise SystemExit(f"{workload} trace={trace}: failures {out['detail']['failures']}")
        if trace:
            path = os.path.join(ROOT, ".perfbench_work", "runs", f"{workload}-trace1", "trace.json")
            with open(path) as f:
                names = {s["name"] for s in json.load(f)["spans"]}
            if not LAYER_SPANS <= names:
                raise SystemExit(f"{workload}: no spans for {sorted(LAYER_SPANS - names)}")
        print(f"ok {workload} trace={trace}: {len(got)} metrics, "
              f"{res['attempted']} attempted, 0 failed")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for name in sys.argv[1:] or list(WORKLOADS):
        check(name, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
