"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the engine reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names, types and value ranges of the
engine's reference test data (see TESTDATA.md): TPC-H-shaped star
tables, a time-sorted ``events`` stream over January 2024, a
30-word-vocabulary ``documents`` corpus with appended-marker near
duplicates, and unit-norm 64-d ``embeddings``. Every column is drawn
independently and uniformly, as in the reference data, so the engine's
input contract holds (no NULLs, 2-dp money, non-empty tables).

``events.ts`` is stored as TIMESTAMP(NANOS), as in the reference data,
so every events query goes through the loader's ns -> us conversion.

The data is a fixed function of the scale factor and of this file's
source: the benchmark's ``--seed`` chooses only query order and
micro-batch splits, never the tables, so every seed measures the same
bytes, and an edit here writes (and oracles) a fresh data directory.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
_VOCAB = (
    "a the big small fast slow spark query table column row value key "
    "join group agg sort hash merge scan filter order part line customer "
    "data stream batch window vector"
).split()
_ADJ = "blue red green large small hot cold old new shiny dull soft bright".split()
_NOUN = "anvil bolt ring plate widget gear spring".split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def make_tables(sf: float) -> dict[str, pd.DataFrame]:
    """All ten tables at scale factor ``sf`` (row counts as TESTDATA.md)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(_REGIONS)}
    )
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
    )
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, tuple(f"{a} {b}" for a in _ADJ for b in _NOUN), n_part),
            "p_brand": np.asarray([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], dtype=object),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    # unique, sorted microsecond timestamps over 30 days
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.choice(span_us, n_ev, replace=False))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": np.asarray([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], dtype=object),
        }
    )
    texts: list[str] = []
    vocab = np.asarray(_VOCAB, dtype=object)
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # near duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(_LANGS, dtype=object)[
                rng.choice(len(_LANGS), n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
            ],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.asarray([len(s) for s in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return t


def data_key(sf: float) -> str:
    """Name of the data directory: the scale factor plus a hash of this
    file, so tables (and the oracle results cached beside them) written
    by an older generator are never reused."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:8]
    return f"sf{sf:g}-{digest}"


def ensure_tables(root: str, sf: float) -> str:
    """Directory holding the ``sf`` tables under ``root``, written once.

    A ``_READY`` marker is written last, so an interrupted write is
    redone instead of read half-finished.
    """
    out = os.path.join(root, data_key(sf))
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    schemas = {
        "embeddings": pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
        ),
        "events": pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("ns")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    }
    for name, df in make_tables(sf).items():
        table = pa.Table.from_pandas(df, schema=schemas.get(name), preserve_index=False)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "_READY"), "w") as f:
        f.write("ok\n")
    return out
