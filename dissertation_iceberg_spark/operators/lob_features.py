"""LOB scalar feature family + prediction overrides (SURVEY §2.8, M1, M5).

Reference parity (all pure column arithmetic — whole-stage codegen):
- midprice = (ask1+bid1)/2                prediction_ML_pipeline.py:197
- ofi = (bid_sz−ask_sz)/(bid_sz+ask_sz)   prediction_ML_pipeline.py:200
- weighted_mp = w·ask1+(1−w)·bid1,
  w = bid_sz/(bid_sz+ask_sz)              order_imbalance.py:257-258
- agg_ratio = (price−bid1)/(ask1−bid1)    prediction_ML_pipeline.py:210
- bid_pref = bid1/(bid1+ask1)             prediction_ML_pipeline.py:211
- hid_at_bid/ask = (price == bid1/ask1)   prediction_ML_pipeline.py:213-214
- M5 outside-spread override: hidden exec below bid ⇒ buy (dir=+1,
  prob=1); above ask ⇒ sell (dir=−1, prob=0)
                                          prediction_ML_pipeline.py:247-262
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_lob_features(df: DataFrame) -> DataFrame:
    ask, bid = F.col("ask_price_1"), F.col("bid_price_1")
    ask_sz, bid_sz = F.col("ask_size_1"), F.col("bid_size_1")
    w = bid_sz / (bid_sz + ask_sz)
    return (
        df.withColumn("midprice", (ask + bid) / 2)
        .withColumn("ofi", (bid_sz - ask_sz) / (bid_sz + ask_sz))
        .withColumn("weighted_mp", w * ask + (1 - w) * bid)
        .withColumn("agg_ratio", (F.col("price") - bid) / (ask - bid))
        .withColumn("bid_pref", bid / (bid + ask))
        .withColumn("hid_at_bid", (F.col("price") == bid).cast("int"))
        .withColumn("hid_at_ask", (F.col("price") == ask).cast("int"))
    )


def outside_spread_override(df: DataFrame) -> DataFrame:
    """M5: force predictions (``pred_dir``, ``pred_prob``) for hidden
    executions priced outside the spread — below bid (agg_ratio <= 0)
    is a buyer-initiated hidden exec, above ask (agg_ratio >= 1)
    seller-initiated."""
    ar = F.col("agg_ratio")
    return df.withColumn(
        "pred_dir",
        F.when(ar <= 0, F.lit(1)).when(ar >= 1, F.lit(-1)).otherwise(F.col("pred_dir")),
    ).withColumn(
        "pred_prob",
        F.when(ar <= 0, F.lit(1.0))
        .when(ar >= 1, F.lit(0.0))
        .otherwise(F.col("pred_prob")),
    )
