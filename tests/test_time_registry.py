"""tools/time_registry.py stops its sweep when the Spark JVM dies."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A two-query registry: the first query halts its own JVM on its second
# call (the first is the sweep's warm-up pass); the second query must
# never be attempted on the dead gateway.
_STUB = """
import runpy, sys
sys.path.insert(0, {repo!r})
from dissertation_iceberg_spark.queries import registry

calls = []

def halts_jvm(spark, sf_dir):
    calls.append(sf_dir)
    if len(calls) > 1:
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().halt(1)
    return spark.range(1)

def second(spark, sf_dir):
    return spark.range(1)

registry._LOADED = True
registry.REGISTRY.clear()
for fn in (halts_jvm, second):
    registry.REGISTRY[fn.__name__] = registry.QuerySpec(fn.__name__, fn, None)
sys.argv = ["time_registry.py", "--json", {out!r}, "unused", "1"]
runpy.run_path({tool!r}, run_name="__main__")
"""


def test_sweep_aborts_when_jvm_dies(tmp_path):
    out = str(tmp_path / "sweep.json")
    script = _STUB.format(
        repo=REPO, out=out, tool=os.path.join(REPO, "tools", "time_registry.py")
    )
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode != 0, run.stderr[-3000:]
    with open(out) as f:
        payload = json.load(f)
    assert payload["aborted"]["query"] == "halts_jvm"
    assert payload["aborted"]["error"]
    assert "second" not in payload["queries"]
    assert "halts_jvm" not in payload["queries"]
