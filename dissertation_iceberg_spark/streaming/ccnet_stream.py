"""Streaming CCNet quality gate: score documents against a
pre-trained reference-LM artifact as they arrive.

Topology (the CCNet production shape, Wenzek et al. 2020): the
language models and tercile cuts are trained BATCH-side on the
reference corpus (``queries/pipeline_audit``'s exact stages), packed
into a driver artifact, and shipped to executors inside the gate's
closure — the same way CCNet ships compiled KenLM binaries to its
workers. Scoring is then STATELESS per document: tokenize, sum
micro-logprobs, mean, bucket — no watermark, no state store, no
stream-side join or aggregation, so the gate scales with input
partitions and checkpoints nothing beyond source offsets.

This is one of the repo's two deliberate Arrow/pandas boundaries
(with operators/multimodal): a vocab-sized dict lookup per token is
the honest executor-side analog of a model artifact — expressing it
as a stream-static join would force a per-token explode plus a
stateful per-doc re-aggregation (watermark, state store) for strictly
worse semantics. Artifact memory is O(reference vocab) per executor —
the same bound KenLM accepts.

Exactness contract (pinned by tests/test_stateful_streaming.py): the
per-(lang, term) micro-logprobs and per-lang floors are computed IN
SPARK by the same ``_ccnet_lp_micro`` expression the batch scorer
compiles — Python never recomputes a logarithm — and the Python-side
mean replicates Spark's HALF_UP double rounding, so streamed scores
and buckets are bit-identical to ``ccnet_doc_scores_frame``.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from dissertation_iceberg_spark.functions.exact import round_half_up
from dissertation_iceberg_spark.queries.pipeline_audit import (
    _ccnet_cuts,
    _ccnet_ds,
    _ccnet_lp_micro,
    _ccnet_ref,
    _ccnet_tok,
)

GATE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_tokens", LongType()),
        StructField("lp_mean_micro", LongType()),
        StructField("bucket", StringType()),
    ]
)


def train_ccnet_artifact(docs: DataFrame) -> dict[str, Any]:
    """Train the gate artifact on a batch corpus: per-(lang, term)
    micro-logprobs, per-lang OOV floors, and per-lang tercile cuts —
    all values produced by the SAME Spark expressions the batch
    scorer uses (collected, never recomputed in Python)."""
    tok = _ccnet_tok(docs)
    ref, refstats = _ccnet_ref(tok)
    lp_rows = (
        ref.join(F.broadcast(refstats), "lang")
        .select("lang", "term", _ccnet_lp_micro(F.col("c")))
        .collect()
    )
    floor_rows = refstats.select(
        "lang", _ccnet_lp_micro(F.lit(None).cast("long"))
    ).collect()
    cut_rows = _ccnet_cuts(_ccnet_ds(docs)).collect()
    lm: dict[tuple[str, str], int] = {
        (r["lang"], r["term"]): r["lp_micro"] for r in lp_rows
    }
    return {
        "lm": lm,
        "floor": {r["lang"]: r["lp_micro"] for r in floor_rows},
        "cuts": {r["lang"]: (r["t1"], r["t2"]) for r in cut_rows},
    }


def ccnet_gate(docs: DataFrame, artifact: dict[str, Any]) -> DataFrame:
    """Per-document CCNet score + bucket, stateless. Identical code
    path on a batch frame — the test's batch twin. Documents with no
    tokens are dropped (the batch scorer's explode does the same);
    languages absent from the training corpus bucket as
    ``'unscored'``."""
    lm = artifact["lm"]
    floor = artifact["floor"]
    cuts = artifact["cuts"]

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, lang, source, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["source"], pdf["text"]
            ):
                toks = [t for t in (text or "").split(" ") if t != ""]
                if not toks:
                    continue
                fl = floor.get(lang, 0)
                s = sum(lm.get((lang, t), fl) for t in toks)
                mean_micro = round_half_up(s / len(toks))
                c = cuts.get(lang)
                if c is None:
                    bucket = "unscored"
                elif mean_micro <= c[0]:
                    bucket = "tail"
                elif mean_micro <= c[1]:
                    bucket = "middle"
                else:
                    bucket = "head"
                out.append(
                    (doc_id, lang, source, len(toks), mean_micro, bucket)
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in GATE_SCHEMA.fields]
            )

    return docs.mapInPandas(score, GATE_SCHEMA)
