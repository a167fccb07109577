"""Streaming DSIR gate: score documents against a pre-trained hashed
n-gram importance-ratio artifact as they arrive.

Topology (the DSIR production shape, Xie et al. 2023): the log-ratio
table is fitted BATCH-side over the target slice and the raw pool
(``queries/pipeline_audit``'s exact stages), packed into a driver
artifact, and shipped to executors inside the gate's closure. Scoring
is then STATELESS per document: tokenize, hash unigrams + bigrams into
DSIR_B buckets, sum micro log-ratios, mean, compare to the selection
cut — no watermark, no state store, no stream-side join.

The artifact is the whole reason DSIR scales where a vocab-keyed LM
does not: EXACTLY DSIR_B = 1024 integers regardless of corpus size —
per-executor memory is a constant, not O(vocab), so the same gate
serves a 100 TB crawl. Buckets never observed in the raw fit take the
(c_t = 0, c_r = 0) smoothing floor, computed by the SAME Spark
expression as every table entry.

Exactness contract (pinned by tests/test_stateful_streaming.py): all
log-ratios are computed IN SPARK by ``_dsir_lr_micro`` — Python never
recomputes a logarithm — and the Python-side mean replicates Spark's
HALF_UP double rounding, so streamed scores and selection flags are
bit-identical to ``dsir_doc_scores_frame`` on the training corpus.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dissertation_iceberg_spark.functions.exact import round_half_up
from dissertation_iceberg_spark.functions.hashing import hash60_py
from dissertation_iceberg_spark.queries.pipeline_audit import (
    DSIR_B,
    _dsir_cut,
    _dsir_feats,
    _dsir_lr_micro,
    _dsir_model,
    _dsir_perdoc,
)

GATE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("n_feats", LongType()),
        StructField("logw_micro", LongType()),
        StructField("lr_mean_micro", LongType()),
        StructField("selected", IntegerType()),
    ]
)


def train_dsir_artifact(docs: DataFrame) -> dict[str, Any]:
    """Fit the gate artifact on a batch corpus: the <= DSIR_B bucket
    log-ratios, the unseen-bucket floor, and the selection cut — all
    values produced by the SAME Spark expressions the batch scorer
    uses (collected, never recomputed in Python)."""
    _, lr, nt, nr = _dsir_model(_dsir_feats(docs))
    lr_rows = lr.collect()
    floor_row = (
        nt.join(nr, F.lit(True))
        .select(
            _dsir_lr_micro(
                F.lit(None).cast("long"), F.lit(None).cast("long")
            )
        )
        .collect()[0]
    )
    cut_row = _dsir_cut(_dsir_perdoc(docs)).collect()[0]
    return {
        "lr": {r["b"]: r["lr_micro"] for r in lr_rows},
        "floor": floor_row["lr_micro"],
        "t75": cut_row["t75"],
    }


def dsir_gate(docs: DataFrame, artifact: dict[str, Any]) -> DataFrame:
    """Per-document DSIR importance score + selection flag, stateless.
    Identical code path on a batch frame — the test's batch twin.
    Documents with no tokens are dropped (the batch scorer's explode
    does the same)."""
    lr = artifact["lr"]
    floor = artifact["floor"]
    t75 = artifact["t75"]

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, source, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                toks = [t for t in (text or "").split(" ") if t != ""]
                if not toks:
                    continue
                ngrams = toks + [
                    f"{a} {b}" for a, b in zip(toks, toks[1:])
                ]
                s = sum(
                    lr.get(hash60_py(ng) % DSIR_B, floor)
                    for ng in ngrams
                )
                mean_micro = round_half_up(s / len(ngrams))
                out.append(
                    (
                        doc_id,
                        source,
                        len(ngrams),
                        s,
                        mean_micro,
                        int(mean_micro > t75),
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in GATE_SCHEMA.fields]
            )

    return docs.mapInPandas(score, GATE_SCHEMA)
