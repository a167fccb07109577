"""tools/time_registry.py: the sweep stops when the Spark JVM dies,
records a failing warm-up as the query's error, and counts the gateway
commands a build sends."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A two-query registry whose first query fails on its first call, the
# sweep's warm-up run, with the statement given as ``fail``.
_STUB = """
import runpy, sys
sys.path.insert(0, {repo!r})
from dissertation_iceberg_spark.queries import registry

calls = []

def first(spark, sf_dir):
    calls.append(sf_dir)
    if len(calls) == 1:
        {fail}
    return spark.range(1)

def second(spark, sf_dir):
    return spark.range(1)

registry._LOADED = True
registry.REGISTRY.clear()
for fn in (first, second):
    registry.REGISTRY[fn.__name__] = registry.QuerySpec(fn.__name__, fn, None)
sys.argv = ["time_registry.py", "--json", {out!r}, "unused", "1"]
runpy.run_path({tool!r}, run_name="__main__")
"""
_HALT = "spark.sparkContext._jvm.java.lang.Runtime.getRuntime().halt(1)"
_RAISE = "raise ValueError('first call fails')"


def _sweep(tmp_path, fail):
    """Run the tool over the stub registry: (process, its JSON payload)."""
    out = str(tmp_path / "sweep.json")
    script = _STUB.format(
        repo=REPO,
        out=out,
        tool=os.path.join(REPO, "tools", "time_registry.py"),
        fail=fail,
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
    with open(out) as f:
        return run, json.load(f)


def test_sweep_aborts_when_jvm_dies(tmp_path):
    """The JVM dies in the warm-up run: the sweep stops with an
    ``aborted`` entry and exit 1, and the second query (which would fail
    on the dead gateway) is never attempted."""
    run, payload = _sweep(tmp_path, _HALT)
    assert run.returncode != 0, run.stderr[-3000:]
    assert payload["aborted"]["query"] == "first"
    assert payload["aborted"]["error"]
    assert "second" not in payload["queries"]
    assert "first" not in payload["queries"]


def test_failing_warm_up_is_the_querys_error(tmp_path):
    """A query that raises in the warm-up run is recorded as its error,
    and the sweep goes on to time the next query."""
    run, payload = _sweep(tmp_path, _RAISE)
    assert run.returncode == 0, run.stderr[-3000:]
    assert "aborted" not in payload
    assert payload["queries"]["first"] == {
        "error": "ValueError: first call fails"
    }
    assert payload["queries"]["second"]["n"] == 1
    assert payload["queries"]["second"]["build_calls"] > 0


# Non-delete gateway commands of one warm build while every Column call
# captured its Python origin and every load re-set the runtime confs
# (measured at sf0.001). Those two costs are gone, so a build must now
# send at most half as many.
@pytest.mark.parametrize(
    "name, before", [("oi_hourly_densified", 890), ("mmr_rerank", 1871)]
)
def test_warm_build_sends_half_the_gateway_commands(
    spark, sf_dir, monkeypatch, name, before
):
    from dissertation_iceberg_spark.queries.registry import (
        REGISTRY,
        _ensure_loaded,
    )
    from tools.time_registry import GatewayCommands

    _ensure_loaded()
    client = spark.sparkContext._gateway._gateway_client
    # the counter wraps send_command in place; put it back afterwards
    monkeypatch.setattr(client, "send_command", client.send_command)
    fn = REGISTRY[name].fn
    fn(spark, sf_dir)  # warm: schema inferred, session configured
    calls = GatewayCommands(spark)
    fn(spark, sf_dir)
    assert 0 < calls.n <= before // 2, calls.n
