"""LOBSTER-shaped sources: schemas + CSV ingest edge (SURVEY §2.1).

Reference parity:
- S2/S4: headerless per-(ticker,day) message/orderbook CSVs get
  explicit schemas and filename-derived (ticker, date) columns
  (prediction_ML_pipeline.py:22-47, 87-96).
- The positional message↔orderbook alignment (df_ob.index = df_m.index,
  prediction_ML_pipeline.py:106) becomes an explicit ``seq`` key
  assigned at ingest — the single most load-bearing translation
  (SURVEY §1.1): Spark rows have no position, so the ingest edge
  materializes one.

Scale notes: steady state is partitioned parquet written by this edge
job, partition columns (ticker, date). Each LOBSTER file is one
ticker-day (bounded, ~10⁶ rows), so per-file sequence numbering via a
window over (file) is safe: we force one partition per file by reading
each file as a glob entry (CSV splits respect multiline=false but seq
correctness additionally requires stable intra-partition order, which
Spark guarantees for a non-shuffled scan of a single file partition —
we assert one-partition-per-file at ingest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from dissertation_iceberg_spark.functions.exact import round_long

# messages CSV columns (prediction_ML_pipeline.py:36): no header,
# time = seconds after midnight (float, ns decimals)
MESSAGE_SCHEMA = StructType(
    [
        StructField("time", DoubleType(), False),
        StructField("event_type", IntegerType(), False),
        StructField("order_ID", LongType(), False),
        StructField("size", LongType(), False),
        StructField("price", LongType(), False),  # price * 10^4 (LOBSTER)
        StructField("direction", IntegerType(), False),
    ]
)


# level-1 book (prediction_ML_pipeline.py:87-94)
ORDERBOOK_SCHEMA = StructType(
    [
        StructField("ask_price_1", LongType(), False),
        StructField("ask_size_1", LongType(), False),
        StructField("bid_price_1", LongType(), False),
        StructField("bid_size_1", LongType(), False),
    ]
)


_FNAME_RE = r"([A-Z]+)_(\d{4}-\d{2}-\d{2})_"


def _with_file_meta(df: DataFrame) -> DataFrame:
    """S3: TICKER_DATE from the filename + per-file sequence key."""
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    w = Window.partitionBy(F.input_file_name()).orderBy(F.monotonically_increasing_id())
    return (
        df.withColumn("ticker", F.regexp_extract(fname, _FNAME_RE, 1))
        .withColumn("date_str", F.regexp_extract(fname, _FNAME_RE, 2))
        .withColumn("seq", F.row_number().over(w) - 1)
    )


def read_messages(spark: SparkSession, path: str) -> DataFrame:
    """S2+S4: messages CSV -> typed frame with (ticker, datetime, seq).

    datetime = date(filename) + seconds-after-midnight, microsecond
    precision (prediction_ML_pipeline.py:39-45).
    """
    df = spark.read.csv(path, schema=MESSAGE_SCHEMA, header=False)
    df = _with_file_meta(df)
    # round, don't truncate: 6-dp seconds × 1e6 can land a hair under
    # the integer (34200.123456*1e6 = ...455.999996)
    us = round_long(F.col("time") * 1_000_000)
    base_us = F.unix_micros(F.to_timestamp("date_str", "yyyy-MM-dd"))
    return df.withColumn("datetime", F.timestamp_micros(base_us + us)).drop("time")


def read_orderbook(spark: SparkSession, path: str) -> DataFrame:
    """S2: orderbook CSV -> typed frame with (ticker, date, seq) key."""
    df = spark.read.csv(path, schema=ORDERBOOK_SCHEMA, header=False)
    return _with_file_meta(df)


def widen(messages: DataFrame, orderbook: DataFrame) -> DataFrame:
    """Materialize the positional message↔book alignment as an explicit
    equi-join on (ticker, date, seq) — seq restarts per file, so the
    file's date is part of the key. This is the pre-joined wide table
    every downstream operator consumes (SURVEY §1.4)."""
    return messages.join(
        orderbook, on=["ticker", "date_str", "seq"], how="inner"
    ).drop("date_str")


def sentinel_filter(df: DataFrame) -> DataFrame:
    """P7: drop empty-book rows flagged with ±9999999999 sentinel prices
    (EDA.ipynb cell 24)."""
    return df.filter(
        (F.col("ask_price_1") != 9_999_999_999)
        & (F.col("bid_price_1") != -9_999_999_999)
    )
