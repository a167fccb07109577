"""The benchmark's workloads: which registered queries run, at which
scale, and why each set was chosen.

Every workload is a closed loop with one client: the queries of a pass
run back to back, each starting when the previous one has finished.
The ``--seed`` argument only permutes the query order of each pass and
chooses where the streaming probe's event file is cut into micro-batch
files; the tables themselves are fixed (see ``datagen``).

Each set's generated code fits Spark's codegen cache
(``spark.sql.codegen.cache.maxEntries``, 100; it evicts per cache
segment, so eviction can start below that): lob_oi compiles 57
classes, driver_loops 80, llm_similarity 54, and none after the first
pass. A set past it (lob_oi with rolling_refit_signal and
cross_sectional_rank, 103; mmr_rerank with pricing_summary, 88)
recompiles classes on every pass, so the JIT never settles and pass
times drift with the host.

``moves`` records, before any optimisation is measured, which
end-to-end metric each per-layer metric is expected to move on that
workload.

BENCHMARK.json lists lob_oi and driver_loops. llm_similarity runs by
hand with ``--workload llm_similarity``: three workloads do not fit the
run budget at run lengths that keep the figures steady.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str
    pass_s_ref: float  # one warm pass on the reference host (4 cores)
    warmup_passes: int  # untimed passes before the measured ones
    # end-to-end metric each layer metric is expected to move here
    moves: dict[str, str]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="lob_oi",
            sf=0.1,
            pass_s_ref=2.3,
            warmup_passes=3,
            queries=(
                "oi_hourly_densified",
                "iceberg_split_oi",
                "multi_delta_oi",
                "ols2_gram",
            ),
            why=(
                "the paper's pipeline: executing the scans, windows and as-of "
                "shuffles over events is 55-60% of a traced pass and build "
                "about 40%; at this scale a stage runs 1.3 tasks on average, so "
                "exec is mostly serial work, not parallel scan"
            ),
            moves={
                "queries.plan_s": "pass_s",
                "exec.scan_bytes": "pass_s",
                "exec.shuffle_write_bytes": "pass_s",
                "io.load_table_s": "pass_s (less than on driver_loops)",
            },
        ),
        Workload(
            name="llm_similarity",
            sf=0.05,
            pass_s_ref=3.0,
            warmup_passes=3,
            queries=(
                "cosine_topk",
                "embedding_near_dups",
                "knn_classify",
                "exact_dedup_groups",
            ),
            why=(
                "executor compute and shuffle in pair expansion dominate; the "
                "similarity-kernel work should show here and schema "
                "inference should not"
            ),
            moves={
                "exec.task_run_s": "pass_s, latency_p90_s",
                "exec.task_skew": "latency_p90_s",
                "exec.shuffle_write_bytes": "pass_s",
                "io.load_table_s": "about nothing",
            },
        ),
        Workload(
            name="driver_loops",
            sf=0.001,
            pass_s_ref=1.6,
            warmup_passes=7,
            queries=(
                "mmr_rerank",
            ),
            why=(
                "tiny data and mmr_rerank's 29 eager jobs a call, so "
                "driver-side build, pins, planning and per-job scheduling "
                "dominate (build 1.5 s against 0.04 s of exec); schema "
                "inference and the iteration/pin helper should show here"
            ),
            moves={
                "io.load_table_s": "pass_s, latency_p50_s",
                "queries.build_s": "pass_s, latency_p90_s",
                "session.pin_s": "pass_s, latency_p90_s",
                "queries.plan_s": "latency_p90_s",
                "exec.jobs": "latency_p50_s",
                "exec.idle_s": "latency_p50_s",
            },
        ),
    )
}
