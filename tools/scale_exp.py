"""Scaling experiment: 1× / 10× / 100× replication of the sf tables
through the four kernels the 100 TB claims rest on (SCALE.md table).

Replication is KEY-SCALED — replicas get shifted ids (and, for text /
embeddings, block-disjoint content) so the data grows the way real
corpora grow: more keys / more distinct documents, not 100 copies of
the same rows (which would quadratically inflate pair-generating
kernels and measure a shape no real corpus has).

CLI: python tools/scale_exp.py [sf_dir] [factor ...]   (default 1 10 100)
Prints one JSON line per (kernel, factor): time (best of 3 after a
warm-up), output rows, and the kernel-specific state size (candidate
pairs / probe rows).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from dissertation_iceberg_spark.io import load_table, lob_events, spread  # noqa: E402
from dissertation_iceberg_spark.session import get_spark  # noqa: E402

BEST_OF = 2

# SCALE_KERNELS=tri_oriented,tdigest_build limits a run to named
# kernels (re-measuring one kernel without paying for the others)
ONLY = {k for k in os.environ.get("SCALE_KERNELS", "").split(",") if k}


def _want(name: str) -> bool:
    return not ONLY or name in ONLY


def replicate(df: DataFrame, factor: int, shifts: dict[str, int]) -> DataFrame:
    """factor copies with id columns shifted per replica (single scan:
    crossJoin against a tiny replica-index range)."""
    if factor == 1:
        return df
    reps = df.sparkSession.range(factor).withColumnRenamed("id", "__rep")
    out = df.crossJoin(F.broadcast(reps))
    for col, step in shifts.items():
        out = out.withColumn(col, F.col(col) + F.col("__rep") * step)
    return out


def timed(make_df, action="noop") -> tuple[float, int]:
    best, rows = float("inf"), -1
    for _ in range(BEST_OF + 1):  # first run = warm-up, not recorded
        # the timer starts BEFORE frame construction: the round-7
        # driver-loop kernels (Bayes arm-count collect, per-round
        # boosting stump collects) do real cluster work while building
        # the frame, which must not escape the measurement (negligible
        # for purely lazy frames)
        t0 = time.time()
        df = make_df()
        if action == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            rows = df.count()
        dt = time.time() - t0
        if _ > 0:
            best = min(best, dt)
    if rows < 0:
        rows = make_df().count()
    return best, rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factors = [int(a) for a in sys.argv[2:]] or [1, 10, 100]
    spark = get_spark()

    from dissertation_iceberg_spark.operators.dedup import jaccard_near_dup_pairs
    from dissertation_iceberg_spark.operators.iceberg import asof_next_within
    from dissertation_iceberg_spark.operators.order_imbalance import oi_pipeline
    from dissertation_iceberg_spark.operators.similarity import (
        build_ivf_index_exact,
        ivf_search_exact,
    )

    lob = lob_events(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents"))
    emb = spread(load_table(spark, sf_dir, "embeddings"))

    for r in factors:
        ev = replicate(
            lob, r, {"user_id": 10_000_000, "event_id": 10_000_000_000}
        ).drop("__rep").persist()
        n_ev = ev.count()

        if _want("oi_pipeline"):
            t, rows = timed(lambda: oi_pipeline(ev, 3600, group_cols=["user_id"]))
            print(json.dumps({"kernel": "oi_pipeline", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        if _want("asof_tag"):
            t, rows = timed(
                lambda: asof_next_within(
                    ev,
                    probe_pred=F.col("event_type") == "purchase",
                    match_pred=F.col("event_type") == "signup",
                    by_cols=["user_id"],
                    tolerance_us=120_000_000,
                ).filter(F.col("event_type") == "purchase")
            )
            print(json.dumps({"kernel": "asof_tag", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        if _want("vpin_clock"):
            # per-key volume clock: the one per-key ORDERED running sum
            # (microstructure.vpin) — measures whether the sequential
            # dependency stays confined to its key partition at 100x keys
            from pyspark.sql import Window

            def vpin_clock():
                cents = F.round(F.col("value") * 100).cast("long")
                wcum = (
                    Window.partitionBy("user_id")
                    .orderBy("event_id")
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                c = ev.select(
                    "user_id", "direction", cents.alias("cents"),
                    F.sum(cents).over(wcum).cast("long").alias("cum"),
                )
                b = (
                    c.select(
                        "user_id",
                        F.floor((F.col("cum") - 1) / 500_000).alias("bucket"),
                        "direction", "cents",
                    )
                    .groupBy("user_id", "bucket")
                    .agg(
                        F.sum(F.when(F.col("direction") == 1, F.col("cents"))
                              .otherwise(0)).alias("buy"),
                        F.sum(F.when(F.col("direction") == -1, F.col("cents"))
                              .otherwise(0)).alias("sell"),
                    )
                )
                return b.groupBy("user_id").agg(
                    F.count(F.lit(1)).alias("n_buckets"),
                    (F.sum(F.abs(F.col("buy") - F.col("sell")))
                     / F.sum(F.col("buy") + F.col("sell"))).alias("vpin"),
                )

            t, rows = timed(vpin_clock)
            print(json.dumps({"kernel": "vpin_clock", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        if _want("roll_spread"):
            # per-key double-lag window + moment agg (microstructure.
            # roll_spread): pure per-key state, output O(keys)
            from pyspark.sql import Window

            def roll_kernel():
                w = Window.partitionBy("user_id").orderBy("event_id")
                cents = F.round(F.col("value") * 100).cast("long")
                d = ev.select(
                    "user_id", "event_id",
                    (cents - F.lag(cents).over(w)).alias("dp"),
                ).withColumn("dp1", F.lag("dp").over(w))
                return (
                    d.filter(F.col("dp").isNotNull() & F.col("dp1").isNotNull())
                    .groupBy("user_id")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("dp") * F.col("dp1")).alias("sxy"),
                        F.sum("dp").alias("sx"), F.sum("dp1").alias("sy"),
                    )
                )

            t, rows = timed(roll_kernel)
            print(json.dumps({"kernel": "roll_spread", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        # round-5 behavioral tier: the FUSED RFM quintiles — per-user
        # rollup, metrics unpivoted to a 3n-row frame, ONE bucketed
        # two-pass row number with group_cols=[metric-kind], NTILE
        # arithmetic, pivot-back (mirrors queries/behavior_ops.
        # rfm_scores after the r4-verdict fuse item). The claim under
        # test: rank cost stays near-linear in USERS and the fused
        # single pass beats three chained passes at every factor
        if _want("rfm_ranks"):
            from dissertation_iceberg_spark.functions.ranks import (
                bucketed_row_number,
                ntile_from_rank,
            )
            from dissertation_iceberg_spark.functions.time_bins import micros

            def rfm_kernel():
                base = (
                    ev.filter(F.col("event_type") == "purchase")
                    .groupBy("user_id")
                    .agg(
                        F.max(micros("ts")).alias("last_us"),
                        F.count(F.lit(1)).alias("n_purchases"),
                        F.sum(F.round(F.col("value") * 100).cast("long"))
                        .cast("long").alias("cents"),
                    )
                )
                n = base.agg(
                    F.count(F.lit(1)).cast("long").alias("n")
                ).scalar()
                stacked = base.select(
                    "user_id",
                    F.expr(
                        "stack(3, 'r', last_us, 'f', n_purchases,"
                        " 'm', cents) AS (mk, val)"
                    ),
                )
                ranked = bucketed_row_number(
                    stacked, ["val", "user_id"], out_col="rk",
                    group_cols=["mk"],
                )
                s = ntile_from_rank(F.col("rk"), n, 5)
                mult = (
                    F.when(F.col("mk") == "r", 100)
                    .when(F.col("mk") == "f", 10)
                    .otherwise(1)
                )
                return (
                    ranked.select("user_id", (s * mult).alias("part"))
                    .groupBy("user_id")
                    .agg(F.sum("part").alias("rfm"))
                )

            t, rows = timed(rfm_kernel, action="count")
            print(json.dumps({"kernel": "rfm_ranks", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        # last-touch attribution: per-user ordered last-non-purchase
        # carry-forward (the attribution family's shared shape) — the
        # claim under test: the sequential dependency stays confined to
        # its user partition at 100x users, output O(channels)
        if _want("lasttouch"):
            from pyspark.sql import Window as W

            def lasttouch():
                w = (
                    W.partitionBy("user_id")
                    .orderBy("ts", "event_id")
                    .rowsBetween(W.unboundedPreceding, -1)
                )
                touch = F.last(
                    F.when(
                        F.col("event_type") != "purchase",
                        F.col("event_type"),
                    ),
                    ignorenulls=True,
                ).over(w)
                return (
                    ev.withColumn("touch", touch)
                    .filter(
                        (F.col("event_type") == "purchase")
                        & F.col("touch").isNotNull()
                    )
                    .groupBy("touch")
                    .agg(F.count(F.lit(1)).alias("n_conv"))
                )

            t, rows = timed(lasttouch, action="count")
            print(json.dumps({"kernel": "lasttouch", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        # SCD2 dimension build (lakehouse_ops.scd2_dimension shape):
        # compact consecutive duplicate states per user (lag), close
        # validity intervals (lead) — the claim under test: both
        # window passes ride ONE user_id shuffle (partitioning reused
        # across the two sorts), cost linear in events, output
        # O(transitions)
        if _want("scd2"):
            from pyspark.sql import Window as W
            from dissertation_iceberg_spark.functions.time_bins import (
                micros,
            )

            def scd2():
                w = W.partitionBy("user_id").orderBy("us", "event_id")
                log = ev.select(
                    "user_id",
                    micros("ts").alias("us"),
                    "event_id",
                    F.col("event_type").alias("state"),
                )
                changes = log.withColumn(
                    "prev", F.lag("state").over(w)
                ).filter(
                    F.col("prev").isNull()
                    | (F.col("prev") != F.col("state"))
                )
                w2 = W.partitionBy("user_id").orderBy("us", "event_id")
                return changes.select(
                    "user_id",
                    "state",
                    F.col("us").alias("valid_from_us"),
                    F.lead("us").over(w2).alias("valid_to_us"),
                )

            t, rows = timed(scd2, action="count")
            print(json.dumps({"kernel": "scd2_build", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        # exact Bayesian A/B expected loss (stats_tests.
        # bayes_ab_loss_frame, round 5): the lgamma table is the one
        # O(trials) structure — the claim under test: table build +
        # bucketed cumsum stay linear, the term frame stays
        # O(conversions), and nothing quadratic appears
        # round-6 M6 twin: per Newton iteration ONE map-side-combinable
        # 14-sum aggregate over the fact frame + a 1-row broadcast
        # parameter frame — claim under test: optimizer cost is a small
        # constant number of linear passes, independent of the solve
        if _want("irls"):
            from dissertation_iceberg_spark.queries.irls import (
                irls_fit_frame,
            )

            t, rows = timed(lambda: irls_fit_frame(ev), action="count")
            print(json.dumps({"kernel": "irls", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        # round-7 M2-M4 twin: T+1 fact passes (weighted histogram per
        # boosting round + accuracy audit), each reducing to an
        # O(distinct quantized values) cell frame — claim under test:
        # wall time scales ~linearly with rows, never with pairs, and
        # the per-round driver collect stays 1 row
        if _want("stump_boost"):
            from dissertation_iceberg_spark.queries.boosting import (
                stump_boost_frame,
            )

            t, rows = timed(lambda: stump_boost_frame(ev), action="count")
            print(json.dumps({"kernel": "stump_boost", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        if _want("bayes_ab"):
            from dissertation_iceberg_spark.queries.stats_tests import (
                bayes_ab_loss_frame,
            )

            t, rows = timed(
                lambda: bayes_ab_loss_frame(ev), action="count"
            )
            print(json.dumps({"kernel": "bayes_ab", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))

        # Croston intermittent-demand recursion (changepoint_ops.
        # croston_intermittent shape): per-user sorted fold — the
        # claim under test: the sequential dependency stays confined
        # to its user partition at 100x users, output linear in users
        if _want("croston"):
            from dissertation_iceberg_spark.functions.time_bins import (
                micros as _micros,
            )

            def croston_kernel():
                daily = (
                    ev.filter(F.col("event_type") == "purchase")
                    .groupBy(
                        "user_id",
                        (_micros("ts") / F.lit(86_400_000_000))
                        .cast("long")
                        .alias("day_num"),
                    )
                    .agg(
                        F.sum(F.round(F.col("value") * 100).cast("long"))
                        .cast("long")
                        .alias("cents")
                    )
                )
                series = daily.groupBy("user_id").agg(
                    F.sort_array(
                        F.collect_list(F.struct("day_num", "cents"))
                    ).alias("s")
                )
                init = F.struct(
                    F.col("s")[0]["cents"].alias("z"),
                    F.lit(1).cast("long").alias("q"),
                    F.col("s")[0]["day_num"].alias("prev"),
                )
                rest = F.slice(F.col("s"), F.lit(2), F.size("s") - 1)
                fin = F.aggregate(
                    rest,
                    init,
                    lambda acc, x: F.struct(
                        F.shiftright(x["cents"] + acc["z"], 1).alias("z"),
                        F.shiftright(
                            (x["day_num"] - acc["prev"]) + acc["q"], 1
                        ).alias("q"),
                        x["day_num"].alias("prev"),
                    ),
                )
                return series.select(
                    "user_id",
                    fin["z"].alias("z_hat"),
                    fin["q"].alias("q_hat"),
                )

            t, rows = timed(croston_kernel, action="count")
            print(json.dumps({"kernel": "croston", "factor": r,
                              "input_rows": n_ev, "out_rows": rows,
                              "sec": round(t, 3)}))
        ev.unpersist()

        # block-disjoint replica text: every word prefixed with the
        # replica id, so shingle sets never collide across blocks
        d = replicate(docs, r, {"doc_id": 10_000_000})
        if r > 1:
            pfx = F.concat(F.lit("b"), F.col("__rep"), F.lit("_"))
            d = d.withColumn(
                "text",
                F.concat(pfx, F.regexp_replace(
                    F.col("text"), " ", F.concat(F.lit(" "), pfx))),
            )
        if _want("jaccard"):
            d = d.drop("__rep").persist()
            n_docs = d.count()
            t, pairs = timed(
                lambda: jaccard_near_dup_pairs(
                    d, "text", "doc_id", n=3, threshold=0.8
                ),
                action="count",
            )
            print(json.dumps({"kernel": "jaccard", "factor": r,
                              "input_rows": n_docs, "out_rows": pairs,
                              "sec": round(t, 3)}))
            d.unpersist()

        # prefix filtering at the same threshold: the high-threshold
        # scale path (index only the rarest (1-t)-fraction prefix per
        # doc) — the claim under test is that its candidate/pair
        # volume stays linear AND its constant beats the full index
        # as the corpus grows
        if _want("prefix_filter"):
            from dissertation_iceberg_spark.operators.dedup import (
                prefix_filter_near_dup_pairs,
            )

            d2 = (d.drop("__rep") if "__rep" in d.columns else d).persist()
            n_docs2 = d2.count()
            t, pairs = timed(
                lambda: prefix_filter_near_dup_pairs(
                    d2, "text", "doc_id", n=3, threshold=0.8
                ),
                action="count",
            )
            print(json.dumps({"kernel": "prefix_filter", "factor": r,
                              "input_rows": n_docs2, "out_rows": pairs,
                              "sec": round(t, 3)}))
            d2.unpersist()

        # SKEWED corpus: every doc gets the same 12-token boilerplate
        # footer (web-corpus reality), creating ~10 shingles with
        # df = n_docs.  The full inverted index expands those posting
        # lists as C(df,2) — quadratic in corpus size — so it is only
        # measured through factor 10 (at 100x it would generate
        # ~10^10 candidate rows); the prefix filter never indexes
        # frequent shingles (they sort LAST under df-ascending order)
        # and stays linear.  This is the kernel where the prefix
        # path's extra constant buys worst-case survival.
        if _want("dedup_skew"):
            from dissertation_iceberg_spark.operators.dedup import (
                prefix_filter_near_dup_pairs,
            )

            boiler = (" copyright terms of service all rights reserved"
                      " contact us privacy policy sitemap home")
            ds = (d.drop("__rep") if "__rep" in d.columns else d).withColumn(
                "text", F.concat(F.col("text"), F.lit(boiler))
            ).persist()
            n_ds = ds.count()
            t, pairs = timed(
                lambda: prefix_filter_near_dup_pairs(
                    ds, "text", "doc_id", n=3, threshold=0.8
                ),
                action="count",
            )
            print(json.dumps({"kernel": "prefix_filter_skew", "factor": r,
                              "input_rows": n_ds, "out_rows": pairs,
                              "sec": round(t, 3)}))
            # factor 1 only: at factor 10 the uncapped index's
            # per-boilerplate-shingle C(5000,2) combos array (12.5 M
            # structs materialized per row before the explode) OOMs
            # the 128 GiB single node — measured once 2026-08-15,
            # recorded in SCALE.md; that cliff is the reason the
            # capped path and the prefix filter exist
            if r == 1:
                t, pairs = timed(
                    lambda: jaccard_near_dup_pairs(
                        ds, "text", "doc_id", n=3, threshold=0.8
                    ),
                    action="count",
                )
                print(json.dumps({"kernel": "jaccard_full_skew", "factor": r,
                                  "input_rows": n_ds, "out_rows": pairs,
                                  "sec": round(t, 3)}))
            ds.unpersist()

        # capped-vs-uncapped CROSSOVER (round 6, judge r5 item 7): a
        # MILD viral shingle — 5% of docs share an UNPREFIXED 12-token
        # boilerplate footer across replica blocks, so boilerplate df
        # = 0.05 * n_docs: UNDER the registered 256 cap at 1x (df ~
        # 250, cap provably a no-op) and OVER it at 10x (df ~ 2500 ->
        # the uncapped index pays ~10 * C(2500,2) ~ 31M pair rows per
        # boilerplate shingle while the capped plan drops them). The
        # measured pair: where the cap flips from pure overhead to the
        # survival knob. Uncapped at 100x is not run — C(25000,2)*10
        # ~ 3.1e9 pair rows (the jaccard_full_skew OOM class,
        # measured round 5).
        if _want("jaccard_cap_cross"):
            boiler = (" copyright terms of service all rights reserved"
                      " contact us privacy policy sitemap home")
            dm = (d.drop("__rep") if "__rep" in d.columns else d)
            dm = dm.withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 10_000_000 % 20 == 0,
                    F.concat(F.col("text"), F.lit(boiler)),
                ).otherwise(F.col("text")),
            ).persist()
            n_dm = dm.count()
            t, pc = timed(
                lambda: jaccard_near_dup_pairs(
                    dm, "text", "doc_id", n=3, threshold=0.8,
                    max_shingle_freq=256,
                ),
                action="count",
            )
            print(json.dumps({"kernel": "jaccard_capped_mildskew",
                              "factor": r, "input_rows": n_dm,
                              "out_rows": pc, "sec": round(t, 3)}))
            # uncapped arm only while its boilerplate pair volume
            # (~10 shingles x C(0.05*n,2)) stays under ~2e8 rows —
            # past that it is the measured jaccard_full_skew OOM class
            bdocs = n_dm // 20
            if 10 * bdocs * (bdocs - 1) // 2 <= 200_000_000:
                t, pu = timed(
                    lambda: jaccard_near_dup_pairs(
                        dm, "text", "doc_id", n=3, threshold=0.8
                    ),
                    action="count",
                )
                print(json.dumps({"kernel": "jaccard_uncapped_mildskew",
                                  "factor": r, "input_rows": n_dm,
                                  "out_rows": pu, "sec": round(t, 3)}))
            dm.unpersist()

        # winnowing fingerprints (operators/dedup.winnow_near_dup_pairs,
        # round 4): doc-partitioned window-min selection + posting-list
        # pair expansion with the boilerplate cap — the claim under
        # test: fingerprint count is a fixed ~2/(w+1) fraction of
        # positions (linear in corpus) and block-disjoint replicas keep
        # pair volume linear, same guard story as jaccard
        if _want("winnow"):
            from dissertation_iceberg_spark.operators.dedup import (
                winnow_near_dup_pairs,
            )

            dw = (d.drop("__rep") if "__rep" in d.columns else d).persist()
            n_dw = dw.count()
            t, pairs = timed(
                lambda: winnow_near_dup_pairs(
                    dw, "text", "doc_id", k=3, w=4, min_shared=2,
                    max_fp_freq=64,
                ),
                action="count",
            )
            print(json.dumps({"kernel": "winnow", "factor": r,
                              "input_rows": n_dw, "out_rows": pairs,
                              "sec": round(t, 3)}))
            dw.unpersist()

        # key-scaled lineitem: replicas get disjoint orders/parts/
        # suppliers, so basket sizes stay constant and pair volume must
        # grow linearly (the copurchase scale claim under test)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
            "l_extendedprice", "l_quantity", "l_discount",
        )
        l = replicate(
            li,
            r,
            {
                "l_orderkey": 10_000_000,
                "l_partkey": 10_000_000,
                "l_suppkey": 10_000_000,
            },
        ).drop("__rep").persist()
        n_li = l.count()

        def copurchase_pairs():
            assoc = l.select("l_orderkey", "l_partkey").distinct()
            b = assoc.select(
                F.col("l_orderkey").alias("o2"),
                F.col("l_partkey").alias("part_b"),
            )
            return (
                assoc.join(
                    b,
                    (F.col("l_orderkey") == F.col("o2"))
                    & (F.col("l_partkey") < F.col("part_b")),
                )
                .groupBy(F.col("l_partkey").alias("part_a"), "part_b")
                .agg(F.count(F.lit(1)).alias("n_both"))
            )

        if _want("copurchase"):
            t, pairs = timed(copurchase_pairs, action="count")
            print(json.dumps({"kernel": "copurchase", "factor": r,
                              "input_rows": n_li, "out_rows": pairs,
                              "sec": round(t, 3)}))

        def q21_chain():
            l1 = l.filter(F.col("l_returnflag") == "R").select(
                "l_orderkey", "l_suppkey"
            )
            l2 = l.select(
                F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
            )
            l3 = l.filter(F.col("l_returnflag") == "R").select(
                F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
            )
            return (
                l1.join(
                    l2,
                    (F.col("l_orderkey") == F.col("o2"))
                    & (F.col("l_suppkey") != F.col("s2")),
                    "left_semi",
                )
                .join(
                    l3,
                    (F.col("l_orderkey") == F.col("o3"))
                    & (F.col("l_suppkey") != F.col("s3")),
                    "left_anti",
                )
                .groupBy("l_suppkey")
                .agg(F.count(F.lit(1)).alias("numwait"))
            )

        # item-item CF (behavior_ops.item_cf_topk shape): pair
        # expansion + marginals + per-item rank — the claim under test:
        # with key-scaled baskets (constant size) pair volume AND the
        # per-item candidate lists stay linear, so the rank window
        # (partitioned by item) never sees more than one item's
        # bounded candidates
        if _want("item_cf"):
            from pyspark.sql import Window as W

            from dissertation_iceberg_spark.queries.behavior_ops import (
                _marginal_pair_counts,
            )

            def item_cf():
                # the ENGINE's pair-expansion core: marginals attached
                # pre-expansion, shuffle self-sized from sum(basket^2)
                # (functions/partitioning.pair_expansion_partitions) —
                # no hand-set shuffle_partitions override anywhere
                # (round-4 verdict item 2)
                assoc = l.select("l_orderkey", "l_partkey").distinct()
                pairs, n_shuffle = _marginal_pair_counts(assoc)
                sym = pairs.select(
                    F.col("part_a").alias("item"),
                    F.col("part_b").alias("rec"),
                    F.col("n_a").alias("n_i"),
                    F.col("n_b").alias("n_r"),
                    "n_both",
                ).unionByName(
                    pairs.select(
                        F.col("part_b").alias("item"),
                        F.col("part_a").alias("rec"),
                        F.col("n_b").alias("n_i"),
                        F.col("n_a").alias("n_r"),
                        "n_both",
                    )
                )
                scored = sym.select(
                    "item",
                    "rec",
                    F.round(
                        F.col("n_both")
                        / F.sqrt(
                            F.col("n_i").cast("double") * F.col("n_r")
                        )
                        * 1e6
                    ).cast("long").alias("cos_micro"),
                )
                w = W.partitionBy("item").orderBy(
                    F.desc("cos_micro"), F.asc("rec")
                )
                return (
                    scored.repartition(n_shuffle, "item")
                    .withColumn("rnk", F.row_number().over(w))
                    .filter(F.col("rnk") <= 10)
                )

            t, rows = timed(item_cf, action="count")
            print(json.dumps({"kernel": "item_cf", "factor": r,
                              "input_rows": n_li, "out_rows": rows,
                              "sec": round(t, 3)}))

        if _want("q21_semi_anti"):
            t, rows = timed(q21_chain, action="count")
            print(json.dumps({"kernel": "q21_semi_anti", "factor": r,
                              "input_rows": n_li, "out_rows": rows,
                              "sec": round(t, 3)}))

        if _want("interval_band"):
            # band-blocked interval overlap join (queries/intervals.py):
            # replicas get disjoint customers with constant per-customer
            # order counts, so overlapping pairs must grow linearly —
            # the banding claim under test (a naive theta join would be
            # quadratic in ANY per-customer history growth)
            from dissertation_iceberg_spark.queries.intervals import (
                _intervals,
                banded_overlap_pairs,
            )

            iv0 = _intervals(spark, sf_dir)
            ivr = replicate(
                iv0, r, {"ok": 10_000_000, "ck": 10_000_000}
            ).drop("__rep").persist()
            n_iv = ivr.count()
            t, pairs = timed(
                lambda: banded_overlap_pairs(ivr)
                .groupBy("ck")
                .agg(F.count(F.lit(1)).alias("n_pairs")),
                action="count",
            )
            n_pairs = banded_overlap_pairs(ivr).count()
            print(json.dumps({"kernel": "interval_band", "factor": r,
                              "input_rows": n_iv, "out_rows": pairs,
                              "cand_pairs": n_pairs, "sec": round(t, 3)}))
            ivr.unpersist()

        def tri_oriented():
            # degree-ordered triangle counting (graph_ops
            # triangle_count_oriented): strong-edge build + orientation
            # + wedge/closing joins; replicas are key-disjoint
            # subgraphs, so edges AND triangles scale linearly
            assoc = l.select("l_orderkey", "l_partkey").distinct()
            b2 = assoc.select(
                F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb")
            )
            edges = (
                assoc.join(
                    b2,
                    (F.col("l_orderkey") == F.col("o2"))
                    & (F.col("l_partkey") < F.col("pb")),
                )
                .groupBy(F.col("l_partkey").alias("pa"), "pb")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= 2)
                .select("pa", "pb")
            )
            deg = (
                edges.select(F.col("pa").alias("node"))
                .unionAll(edges.select(F.col("pb").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            da = deg.select(F.col("node").alias("na"), F.col("d").alias("da"))
            db = deg.select(F.col("node").alias("nb"), F.col("d").alias("db"))
            a_first = F.struct(F.col("da"), F.col("pa")) < F.struct(
                F.col("db"), F.col("pb")
            )
            oriented = (
                edges.join(da, F.col("pa") == F.col("na"))
                .join(db, F.col("pb") == F.col("nb"))
                .select(
                    F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
                    F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
                    F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
                )
            )
            o2 = oriented.select(
                F.col("src").alias("s2"),
                F.col("dst").alias("d2"),
                F.col("ddst").alias("dd2"),
            )
            closing = oriented.select(
                F.col("src").alias("cs"), F.col("dst").alias("cd")
            )
            return (
                oriented.join(o2, F.col("src") == F.col("s2"))
                .filter(
                    F.struct(F.col("ddst"), F.col("dst"))
                    < F.struct(F.col("dd2"), F.col("d2"))
                )
                .join(
                    closing,
                    (F.col("cs") == F.col("dst")) & (F.col("cd") == F.col("d2")),
                    "left_semi",
                )
            )

        if _want("tri_oriented"):
            t, tris = timed(tri_oriented, action="count")
            print(json.dumps({"kernel": "tri_oriented", "factor": r,
                              "input_rows": n_li, "out_rows": tris,
                              "sec": round(t, 3)}))

        def wedge_aa():
            # adamic_adar_links / link_prediction_cn wedge stage
            # (round-9 VERDICT item 5): pre-attached degree weights on
            # the O(edges) frame, self-sized hub-keyed shuffle, then
            # the Θ(Σ C(d,2)) wedge expansion + pair aggregate.
            # Replicas are key-disjoint subgraphs (both part and order
            # keys shifted), so edges AND wedges scale linearly with
            # the factor — the claim under test is that the self-sized
            # shuffle keeps per-reducer volume flat while total wedge
            # volume grows 10x/100x.
            from dissertation_iceberg_spark.functions.partitioning import (
                pair_expansion_partitions,
            )

            li2 = l.select("l_orderkey", "l_partkey")  # l is replicated
            a2_ = li2.alias("a")
            b2_ = li2.alias("b")
            e0 = (
                a2_.join(b2_, "l_orderkey")
                .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
                .select(
                    F.col("a.l_partkey").alias("u"),
                    F.col("b.l_partkey").alias("v"),
                )
                .distinct()
            )
            edges = e0.unionByName(
                e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
            n_shuffle = pair_expansion_partitions(edges, "u")
            ed = (
                edges.join(deg, "u")
                .filter(F.col("d") >= 2)
                .select(
                    "u",
                    "v",
                    F.round(F.lit(1e6) / F.log(F.col("d")))
                    .cast("long")
                    .alias("aa_w"),
                )
                .repartition(n_shuffle, "u")
            )
            e1_ = ed.alias("e1")
            e2_ = ed.alias("e2")
            return (
                e1_.join(e2_, "u")
                .filter(F.col("e1.v") < F.col("e2.v"))
                .groupBy(F.col("e1.v").alias("pa"), F.col("e2.v").alias("pb"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("cn"),
                    F.sum(F.col("e1.aa_w")).cast("long").alias("aa_micro"),
                )
            )

        if _want("wedge_aa"):
            t, prs = timed(wedge_aa, action="count")
            print(json.dumps({"kernel": "wedge_aa", "factor": r,
                              "input_rows": n_li, "out_rows": prs,
                              "sec": round(t, 3)}))

        def tdigest_build():
            # sketch_ops.tdigest_centroids: fixed 1024-cell agg state
            # regardless of input rows -> time should scale with the
            # scan, output pinned at <= 64 centroids
            from pyspark.sql import Window as W
            import math

            v = l.select(
                F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
            )
            b = v.agg(
                F.min("c").alias("lo"),
                F.max("c").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            h = (
                v.join(F.broadcast(b))
                .select(
                    "c",
                    "n",
                    ((F.col("c") - F.col("lo")) * 1024).cast("long").alias("num"),
                    (F.col("hi") - F.col("lo") + 1).alias("den"),
                )
                .select("c", "n", F.expr("least(num div den, 1023)").alias("bin"))
                .groupBy("bin", "n")
                .agg(F.count(F.lit(1)).alias("bin_n"))
            )
            cw = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
            c = h.withColumn("cum_prev", F.sum("bin_n").over(cw) - F.col("bin_n"))
            arg = (2 * F.col("cum_prev") + F.col("bin_n") - F.col("n")).cast(
                "double"
            ) / F.col("n")
            am = F.round((F.asin(arg) + F.lit(math.pi / 2)) * 1e6).cast("long")
            return (
                c.withColumn("asin_micro", am)
                .select(F.expr("least((64 * asin_micro) div 3141593, 63)").alias("ct"),
                        "bin_n")
                .groupBy("ct")
                .agg(F.sum("bin_n").alias("n"))
            )

        if _want("tdigest_build"):
            t, cents = timed(tdigest_build, action="count")
            print(json.dumps({"kernel": "tdigest_build", "factor": r,
                              "input_rows": n_li, "out_rows": cents,
                              "sec": round(t, 3)}))

        # histogram-midrank kernel (kruskal_wallis / levene_test /
        # dunn_posthoc / wilcoxon / QTE backbone): (type, cents)
        # histogram + global distinct-value cumsum + weighted rank sums
        # — the claim under test is that rank cost tracks the
        # DISTINCT-VALUE frame, not the row count
        if _want("midranks"):
            from pyspark.sql import Window as W

            ev3 = replicate(
                load_table(spark, sf_dir, "events").select(
                    "event_type", "value"
                ),
                r,
                {},
            )
            ev3 = (ev3.drop("__rep") if "__rep" in ev3.columns else ev3).persist()
            n_ev3 = ev3.count()

            def midranks():
                v = ev3.select(
                    "event_type",
                    F.round(F.col("value") * 100).cast("long").alias("cents"),
                )
                gh = v.groupBy("event_type", "cents").agg(
                    F.count(F.lit(1)).cast("long").alias("cnt_g")
                )
                h = gh.groupBy("cents").agg(
                    F.sum("cnt_g").cast("long").alias("cnt")
                )
                cw = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
                r2 = h.select(
                    "cents",
                    (2 * F.coalesce(F.sum("cnt").over(cw), F.lit(0))
                     + F.col("cnt") + 1).cast("long").alias("rank2"),
                )
                return (
                    gh.join(r2, "cents")
                    .groupBy("event_type")
                    .agg(
                        F.sum("cnt_g").cast("long").alias("n"),
                        F.sum(F.col("cnt_g") * F.col("rank2"))
                        .cast("long").alias("s2"),
                    )
                )

            t, rows = timed(midranks, action="count")
            print(json.dumps({"kernel": "midranks", "factor": r,
                              "input_rows": n_ev3, "out_rows": rows,
                              "sec": round(t, 3)}))
            ev3.unpersist()

        # one GBM boosting round (stats_tests2.gbm_stumps): candidate
        # histogram over both features + cumsum split scan + argmax +
        # broadcast residual update — the claim under test is that a
        # round costs one map-side-combinable fact pass (candidate
        # frame is O(61) rows at ANY scale)
        if _want("gbm_round"):
            from pyspark.sql import Window as W

            def gbm_round():
                base = l.select(
                    F.col("l_quantity").cast("long").alias("q"),
                    F.round(F.col("l_discount") * 100).cast("long").alias("d"),
                    F.round(F.col("l_extendedprice") * 100)
                    .cast("long")
                    .alias("y"),
                )
                f0 = base.agg(
                    F.floor(
                        (2.0 * F.sum("y") + F.count(F.lit(1)))
                        / (2.0 * F.count(F.lit(1)))
                    ).cast("long").alias("f0")
                )
                resid = base.crossJoin(F.broadcast(f0)).select(
                    "q", "d", (F.col("y") - F.col("f0")).alias("r")
                )
                hist = (
                    resid.select(F.lit("quantity").alias("f"),
                                 F.col("q").alias("v"), "r")
                    .unionByName(resid.select(F.lit("discount").alias("f"),
                                              F.col("d").alias("v"), "r"))
                    .groupBy("f", "v")
                    .agg(F.count(F.lit(1)).cast("long").alias("n"),
                         F.sum("r").cast("long").alias("s"))
                )
                tot = resid.agg(
                    F.count(F.lit(1)).cast("long").alias("n_all"),
                    F.sum("r").cast("long").alias("s_all"),
                )
                cw = (W.partitionBy("f").orderBy("v")
                      .rowsBetween(W.unboundedPreceding, W.currentRow))
                cum = hist.select(
                    "f", "v",
                    F.sum("n").over(cw).cast("long").alias("cn"),
                    F.sum("s").over(cw).cast("long").alias("cs"))
                cn, cs = F.col("cn"), F.col("cs")
                na, sa = F.col("n_all"), F.col("s_all")
                best = (
                    cum.crossJoin(F.broadcast(tot))
                    .filter(na - cn > 0)
                    .select(
                        "f", "v",
                        F.floor((2.0 * cs + cn) / (2.0 * cn))
                        .cast("long").alias("wl"),
                        F.floor((2.0 * (sa - cs) + (na - cn))
                                / (2.0 * (na - cn))).cast("long").alias("wr"),
                        (cs.cast("double") * cs / cn
                         + (sa - cs).cast("double") * (sa - cs)
                         / (na - cn)).alias("gain"))
                    .orderBy(F.desc("gain"), F.asc("f"), F.asc("v"))
                    .limit(1)
                )
                return resid.crossJoin(F.broadcast(best)).select(
                    (F.col("r") - F.when(
                        ((F.col("f") == "quantity") & (F.col("q") <= F.col("v")))
                        | ((F.col("f") == "discount") & (F.col("d") <= F.col("v"))),
                        F.col("wl")).otherwise(F.col("wr"))).alias("r2")
                )

            t, rows = timed(gbm_round)
            print(json.dumps({"kernel": "gbm_round", "factor": r,
                              "input_rows": n_li, "out_rows": rows,
                              "sec": round(t, 3)}))
        l.unpersist()

        # grouped-rank machinery at scale: the trimmed/winsorized-means
        # kernel (distinct-value collapse + grouped bucketed cumsums +
        # clamped tail sums) over key-scaled events — the claim under
        # test is that cost tracks the DISTINCT-VALUE frame, not rows
        if _want("trim_means"):
            ev2 = replicate(
                load_table(spark, sf_dir, "events").select(
                    "event_type", "value"
                ),
                r,
                {},
            ).drop("__rep").persist()
            n_ev2 = ev2.count()

            def trim_means():
                from dissertation_iceberg_spark.functions.ranks import (
                    bucketed_exclusive_cumsums,
                )

                v = ev2.select(
                    "event_type",
                    F.round(F.col("value") * 100).cast("long").alias("cents"),
                )
                dv = v.groupBy("event_type", "cents").agg(
                    F.count(F.lit(1)).alias("f")
                )
                cum = bucketed_exclusive_cumsums(
                    dv, "cents", ["f"], group_cols=["event_type"]
                )
                g = dv.groupBy("event_type").agg(
                    F.sum("f").cast("long").alias("n"),
                    F.sum(F.col("f") * F.col("cents")).cast("long").alias("s"),
                )
                k = g.select(
                    "event_type", "n", "s",
                    F.floor(F.col("n") * 0.05).cast("long").alias("k"),
                )
                j = cum.join(F.broadcast(k), "event_type")
                bot = F.col("cents") * F.greatest(
                    F.lit(0), F.least(F.col("f"), F.col("k") - F.col("cum_f"))
                )
                return j.groupBy("event_type").agg(
                    F.sum(bot).alias("bot_sum")
                )

            t, rows = timed(trim_means, action="count")
            print(json.dumps({"kernel": "trim_means", "factor": r,
                              "input_rows": n_ev2, "out_rows": rows,
                              "sec": round(t, 3)}))
            ev2.unpersist()

        # PQ-ADC scan at scale: codebook + distance table FIXED (fit is
        # offline), code table replicated with shifted ids — the claim
        # under test is that the scan is linear map-side work
        if _want("gram_build"):
            # centered integer Gram build (pca_power_iteration): the
            # only fact-scale stage of the PCA kernel — vec_id-keyed
            # self-join fanning each (vec, dim) row into d pair terms,
            # map-side-combinable (i, j) sum. Output is d^2 = 4096
            # rows at EVERY factor; time should track input linearly.
            from dissertation_iceberg_spark.io import load_table as _lt

            emb0 = _lt(spark, sf_dir, "embeddings").select("vec_id", "embedding")
            embr = replicate(emb0, r, {"vec_id": 10_000_000}).drop("__rep")
            from dissertation_iceberg_spark.operators.similarity import quantize

            qvx = F.transform(F.col("embedding"), quantize)
            xeg = embr.select("vec_id", qvx.alias("qv")).select(
                "vec_id", F.posexplode("qv").alias("pos", "x")
            ).persist()
            n_xe = xeg.count()

            def gram_build():
                ga = xeg.select("vec_id", F.col("pos").alias("i"),
                                F.col("x").alias("xa"))
                gb = xeg.select("vec_id", F.col("pos").alias("j"),
                                F.col("x").alias("xb"))
                return (
                    ga.join(gb, "vec_id")
                    .groupBy("i", "j")
                    .agg(F.sum(F.col("xa") * F.col("xb")).alias("g"))
                )

            t, rows = timed(gram_build, action="count")
            print(json.dumps({"kernel": "gram_build", "factor": r,
                              "input_rows": n_xe, "out_rows": rows,
                              "sec": round(t, 3)}))
            xeg.unpersist()

        if _want("adc_scan"):
            from dissertation_iceberg_spark.operators.similarity import (
                lloyd_num,
                lloyd_recenter,
            )
            from dissertation_iceberg_spark.queries.extensions import _pq_fit

            xe1, a21 = _pq_fit(spark, sf_dir)
            codes1 = a21.select("vec_id", "sub", "cw")
            c2 = lloyd_recenter(codes1.join(xe1, ["vec_id", "sub"]), "cw", ("sub",))
            qxe = xe1.filter(F.col("vec_id") % 250 == 0).select(
                F.col("vec_id").alias("qid"), "sub", "pos", "x"
            )
            dmicro = (
                lloyd_num(qxe, c2, ["qid", "cw"], ("sub",))
                .select(
                    "qid", "sub", "cw",
                    F.round(F.col("dist") / 1e8 * 1e6).cast("long").alias("d_micro"),
                )
                .persist()
            )
            dmicro.count()
            codes = replicate(
                codes1, r, {"vec_id": 10_000_000}
            ).drop("__rep").persist()
            n_codes = codes.count()

            def adc_scan():
                from pyspark.sql import Window as W

                adc = (
                    codes.join(F.broadcast(dmicro), ["sub", "cw"])
                    .filter(F.col("vec_id") != F.col("qid"))
                    .groupBy("qid", F.col("vec_id").alias("neighbor_id"))
                    .agg(F.sum("d_micro").cast("long").alias("adc_micro"))
                )
                w = W.partitionBy("qid").orderBy("adc_micro", "neighbor_id")
                return adc.withColumn(
                    "rnk", F.row_number().over(w)
                ).filter(F.col("rnk") <= 5)

            t, rows = timed(adc_scan, action="count")
            print(json.dumps({"kernel": "adc_scan", "factor": r,
                              "input_rows": n_codes, "out_rows": rows,
                              "sec": round(t, 3)}))
            codes.unpersist()
            dmicro.unpersist()

        # SemDeDup at scale: k clusters scale WITH the corpus
        # (k = 8r -> constant expected cluster size), so the
        # within-cluster pair expansion stays linear — the measured
        # form of semdedup_prune's 100 TB story (the registered query
        # pins k=8 for the oracle; the knob is the deployment story)
        if _want("semdedup"):
            from dissertation_iceberg_spark.operators.similarity import (
                int_dot,
                lloyd2,
                lloyd_argmin,
                lloyd_num,
                lloyd_recenter,
                quantize,
                seed_centroids,
            )
            from dissertation_iceberg_spark.queries.extensions import (
                SD_TAU_MICRO,
            )

            es = replicate(emb, r, {"vec_id": 10_000_000})
            if r > 1:
                es = es.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x: (
                            x + F.col("__rep").cast("float") * F.lit(0.01)
                        ),
                    ),
                )
            es = es.drop("__rep").persist()
            n_es = es.count()
            k_r = 8 * r
            base = es.select(
                "vec_id", F.transform("embedding", quantize).alias("qv")
            )
            xe2 = base.select("vec_id", F.posexplode("qv").alias("pos", "x"))
            # seeds spread ACROSS replica blocks (8 per block —
            # replicate() shifts vec_id by 10M per replica, so
            # vec_id % 10M is the original id): first-k-by-id
            # seeding would take every seed from block 0, leaving
            # the displaced blocks to pile into megaclusters — and no
            # real deployment seeds k-means from one corner of the
            # corpus
            c0 = seed_centroids(
                base.filter(F.col("vec_id") % 10_000_000 < 8), k_r, "cluster"
            )
            nn = int_dot(F.col("qv"), F.col("qv")).alias("nn")

            def assign(xe, cent):
                d = lloyd_num(xe, cent, ["vec_id", "cluster"])
                return lloyd_argmin(d, ["vec_id"], "cluster")

            def members(a):
                return a.select("vec_id", "cluster").join(base, "vec_id").select(
                    "cluster", "vec_id", "qv", nn
                )

            def prune(mm):
                # within-cluster pairs at cosine >= tau (micro-rounded)
                lhs = mm.select(
                    "cluster",
                    F.col("vec_id").alias("id_a"),
                    F.col("qv").alias("qa"),
                    F.col("nn").alias("na"),
                )
                rhs = mm.select(
                    F.col("cluster").alias("c2"),
                    F.col("vec_id").alias("id_b"),
                    F.col("qv").alias("qb"),
                    F.col("nn").alias("nb"),
                )
                cm = F.round(
                    int_dot(F.col("qa"), F.col("qb")).cast("double")
                    / (
                        F.sqrt(F.col("na").cast("double"))
                        * F.sqrt(F.col("nb").cast("double"))
                    )
                    * 1e6
                ).cast("long")
                return (
                    lhs.join(
                        rhs,
                        (F.col("cluster") == F.col("c2"))
                        & (F.col("id_a") < F.col("id_b")),
                    )
                    .select("id_b", cm.alias("cm"))
                    .filter(F.col("cm") >= SD_TAU_MICRO)
                    .select("id_b")
                    .distinct()
                )

            def semdedup():
                return prune(members(lloyd2(xe2, c0, "vec_id", "cluster")))

            t, pruned = timed(semdedup, action="count")
            print(json.dumps({"kernel": "semdedup", "factor": r,
                              "input_rows": n_es, "n_clusters": k_r,
                              "out_rows": pruned, "sec": round(t, 3)}))

            # ISOLATED prune stage (round 6, judge r5 item 7): the
            # within-cluster pair expansion + cosine + tau cut, with
            # the Lloyd assignment MATERIALIZED untimed — measures the
            # "linear by construction" claim directly instead of
            # inferring it from the end-to-end number (which the
            # O(N*k) assignment dominates at 100x)
            if _want("semdedup_prune"):
                mm = members(lloyd2(xe2, c0, "vec_id", "cluster")).persist()
                n_assigned = mm.count()  # materialize OUTSIDE the timer
                t, pruned_i = timed(lambda: prune(mm), action="count")
                print(json.dumps({"kernel": "semdedup_prune_stage",
                                  "factor": r, "input_rows": n_assigned,
                                  "n_clusters": k_r, "out_rows": pruned_i,
                                  "sec": round(t, 3)}))
                mm.unpersist()

            # TWO-LEVEL assignment (the SCALE.md fix, measured): the
            # flat kernel's wall is the O(N*k) assignment once k
            # scales with the corpus. Here vectors first pick 1 of
            # g = sqrt(k) super-centroids, then rank only that
            # super's member centroids — O(N*(g + k/g)) = O(N*sqrt(k))
            # distance work, the IVF coarse-quantizer recipe applied
            # to the clustering itself. Approximate (boundary vectors
            # may land one cluster over — pruned counts drift a few
            # percent), which is exactly the production trade.
            g_r = max(4, int(round(k_r ** 0.5)))

            def semdedup_2level():
                a1 = assign(xe2, c0)
                c1 = lloyd_recenter(
                    a1.select("vec_id", "cluster").join(xe2, "vec_id"),
                    "cluster",
                )
                # snap refined centroids to the grid -> a centroid
                # TABLE we can cluster at the super level
                cy = c1.select(
                    "cluster",
                    "pos",
                    F.floor(
                        (2 * F.col("s").cast("double") + F.col("n"))
                        / (2 * F.col("n").cast("double"))
                    )
                    .cast("long")
                    .alias("y"),
                )
                sc0 = cy.filter(F.col("cluster") < g_r).select(
                    "cluster",
                    "pos",
                    F.col("y").alias("s"),
                    F.lit(1).cast("long").alias("n"),
                )
                ce = cy.select(
                    F.col("cluster").alias("vec_id"),
                    "pos",
                    F.col("y").alias("x"),
                )
                cmap = assign(ce, sc0).select(
                    F.col("vec_id").alias("cl"),
                    F.col("cluster").alias("sup"),
                )
                # stage A: every vector -> 1 of g supers
                va = assign(xe2, sc0).select(
                    "vec_id", F.col("cluster").alias("sup")
                )
                # stage B: rank ONLY the chosen super's centroids — the
                # candidate cluster rides as a key column
                cand = va.join(F.broadcast(cmap), "sup").select(
                    "vec_id", "cl"
                )
                d2l = lloyd_num(
                    xe2.join(cand, "vec_id"),
                    c1.withColumnRenamed("cluster", "cl"),
                    ["vec_id"],
                    ("cl",),
                )
                a2 = lloyd_argmin(d2l, ["vec_id"], "cl")
                return prune(members(a2.withColumnRenamed("cl", "cluster")))

            t, pruned2 = timed(semdedup_2level, action="count")
            print(json.dumps({"kernel": "semdedup_2level", "factor": r,
                              "input_rows": n_es, "n_clusters": k_r,
                              "n_supers": g_r, "out_rows": pruned2,
                              "sec": round(t, 3)}))

            # FOLD assignment (third variant): centroids ride as ONE
            # scalar array<struct<cluster, yv>>; each vector computes
            # its argmin with array_min(transform(...)) entirely in
            # codegen — zero long-form fan-out (no N*k*64 rows, no
            # per-assignment shuffle at all), exact integer distances
            # (no n multiplier -> no overflow class). The arithmetic
            # is still O(N*k*64) multiply-adds, but as expression
            # evaluation instead of rows.
            def semdedup_fold():
                def dist2(ct):
                    return F.aggregate(
                        F.zip_with(
                            F.col("qv"),
                            ct["yv"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v,
                    )

                def fold_assign(df, cent):
                    # centroids (cluster, pos, s, n) snapped to the grid
                    # and collected into ONE row; scalar subqueries are
                    # rejected inside higher-order functions, so the
                    # 1-row centroid array rides a broadcast crossJoin
                    # (the bcast_params class)
                    y = F.floor(
                        (2 * F.col("s").cast("double") + F.col("n"))
                        / (2 * F.col("n").cast("double"))
                    ).cast("long")
                    yv = F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "y"))),
                        lambda p: p["y"],
                    )
                    cs_df = (
                        cent.select("cluster", "pos", y.alias("y"))
                        .groupBy("cluster")
                        .agg(yv.alias("yv"))
                        .agg(
                            F.sort_array(
                                F.collect_list(F.struct("cluster", "yv"))
                            ).alias("cs")
                        )
                    )
                    best = F.array_min(
                        F.transform(
                            F.col("cs"),
                            lambda ct: F.struct(
                                dist2(ct).alias("d"),
                                ct["cluster"].alias("c"),
                            ),
                        )
                    )
                    return (
                        df.crossJoin(F.broadcast(cs_df))
                        .withColumn("cluster", best["c"])
                        .drop("cs")
                    )

                a1 = fold_assign(base, c0)
                # refine: per-cluster per-dim sums (snapped in the fold)
                xm = a1.select("cluster", F.posexplode("qv").alias("pos", "x"))
                a2 = fold_assign(base, lloyd_recenter(xm, "cluster"))
                return prune(a2.select("cluster", "vec_id", "qv", nn))

            t, pruned3 = timed(semdedup_fold, action="count")
            print(json.dumps({"kernel": "semdedup_fold", "factor": r,
                              "input_rows": n_es, "n_clusters": k_r,
                              "out_rows": pruned3, "sec": round(t, 3)}))
            es.unpersist()

        # JL distortion audit (queries/pipeline_audit.jl_audit_frame,
        # round 5): per-row integer projection + per-label histogram
        # median via bucketed cumsums — the claim under test: zero
        # pair/join blowup anywhere, so wall time tracks the scan and
        # the distinct-distortion histogram (which grows with N but
        # stays bucket-parallel)
        if _want("jl_audit"):
            from dissertation_iceberg_spark.queries.pipeline_audit import (
                jl_audit_frame,
            )

            ej = replicate(emb, r, {"vec_id": 10_000_000})
            if r > 1:
                ej = ej.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x: (
                            x + F.col("__rep").cast("float") * F.lit(0.01)
                        ),
                    ),
                )
            ej = ej.drop("__rep").persist()
            n_ej = ej.count()
            t, rows = timed(lambda: jl_audit_frame(ej), action="count")
            print(json.dumps({"kernel": "jl_audit", "factor": r,
                              "input_rows": n_ej, "out_rows": rows,
                              "sec": round(t, 3)}))
            ej.unpersist()

        # CCNet reference-LM bucketing (pipeline_audit.
        # ccnet_buckets_frame, round 5): block-disjoint replica text =
        # vocabulary grows LINEARLY with the corpus (pessimistic vs
        # Heaps' law) — the claim under test: the vocab-keyed logprob
        # join and the per-lang tercile histogram both stay linear,
        # no global sort appears
        if (
            _want("ccnet")
            or _want("mh_estimator")
            or _want("dsir")
            or _want("softdedup")
            or _want("xsrc_dup")
        ):
            dc = replicate(docs, r, {"doc_id": 10_000_000})
            if r > 1:
                pfx2 = F.concat(F.lit("b"), F.col("__rep"), F.lit("_"))
                dc = dc.withColumn(
                    "text",
                    F.concat(pfx2, F.regexp_replace(
                        F.col("text"), " ",
                        F.concat(F.lit(" "), pfx2))),
                )
            dc = dc.drop("__rep").persist()
            n_dc = dc.count()
            if _want("ccnet"):
                from dissertation_iceberg_spark.queries.pipeline_audit import (
                    ccnet_buckets_frame,
                )

                t, rows = timed(
                    lambda: ccnet_buckets_frame(dc), action="count"
                )
                print(json.dumps({"kernel": "ccnet", "factor": r,
                                  "input_rows": n_dc, "out_rows": rows,
                                  "sec": round(t, 3)}))

            # MinHash estimator error (pipeline_audit.
            # minhash_estimator_frame, round 5): exact-pair posting
            # expansion + signature build + two O(pairs) joins — the
            # claim under test: block-disjoint replicas keep the pair
            # volume (and so the join inputs) linear, same guard story
            # as the jaccard kernel
            if _want("mh_estimator"):
                from dissertation_iceberg_spark.queries.pipeline_audit import (
                    minhash_estimator_frame,
                )

                t, rows = timed(
                    lambda: minhash_estimator_frame(dc), action="count"
                )
                print(json.dumps({"kernel": "mh_estimator", "factor": r,
                                  "input_rows": n_dc, "out_rows": rows,
                                  "sec": round(t, 3)}))

            # DSIR importance resampling (pipeline_audit.
            # dsir_selection_frame, round 5): the claim under test —
            # even with a vocabulary growing linearly (block-disjoint
            # prefixes), the distribution fits collapse into the FIXED
            # 1024-bucket space, so both count shuffles stay tiny and
            # the scorer join is against a constant-size broadcast;
            # end-to-end time should track the scan, not the vocab
            if _want("dsir"):
                from dissertation_iceberg_spark.queries.pipeline_audit import (
                    dsir_selection_frame,
                )

                t, rows = timed(
                    lambda: dsir_selection_frame(dc), action="count"
                )
                print(json.dumps({"kernel": "dsir", "factor": r,
                                  "input_rows": n_dc, "out_rows": rows,
                                  "sec": round(t, 3)}))

            # SoftDeDup reweighting (corpus_ops.softdedup_weights
            # shape, round 5): unigram_logprob's vocab-keyed join plus
            # two scalar subqueries — the claim under test: linear in
            # the corpus even with linear vocab growth, output exactly
            # linear (one weight per doc)
            if _want("softdedup"):
                from dissertation_iceberg_spark.operators import text as _tx
                from dissertation_iceberg_spark.functions.scalars import (
                    with_scalars as _ws,
                )

                def softdedup_kernel(frame=dc):
                    tok = frame.select(
                        "doc_id",
                        "source",
                        F.explode(_tx.tokens(F.col("text"))).alias("term"),
                    )
                    counts = tok.groupBy("term").agg(
                        F.count(F.lit(1)).alias("c")
                    )
                    corpus = counts.agg(
                        F.sum("c").alias("n_total"),
                        F.count(F.lit(1)).alias("vocab"),
                    )
                    lp = counts.transform(_ws, corpus).select(
                        "term",
                        F.round(
                            F.log(
                                (F.col("c") + 1).cast("double")
                                / (F.col("n_total") + F.col("vocab"))
                            )
                            * 1e6
                        )
                        .cast("long")
                        .alias("lp_micro"),
                    )
                    pd_ = (
                        tok.join(lp, "term")
                        .groupBy("doc_id", "source")
                        .agg(
                            F.count(F.lit(1)).alias("n_tokens"),
                            F.sum("lp_micro").cast("long").alias("s"),
                        )
                        .select(
                            "doc_id",
                            "n_tokens",
                            F.round(
                                F.col("s").cast("double")
                                / F.col("n_tokens")
                            )
                            .cast("long")
                            .alias("lp_mean_micro"),
                        )
                    )
                    inv = F.exp(
                        F.col("lp_mean_micro").cast("double") / -1e6
                    )
                    tm = pd_.withColumn(
                        "term_q",
                        F.round(
                            F.col("n_tokens").cast("double") * inv * 1e3
                        ).cast("long"),
                    )
                    st = tm.agg(
                        F.sum("term_q").cast("long").alias("s_q"),
                        F.sum("n_tokens").cast("long").alias("t_tokens"),
                    )
                    return tm.transform(_ws, st).select(
                        "doc_id",
                        F.round(
                            F.col("t_tokens").cast("double")
                            * 1e3
                            / F.col("s_q")
                            * inv,
                            6,
                        ).alias("sample_weight"),
                    )

                t, rows = timed(softdedup_kernel, action="count")
                print(json.dumps({"kernel": "softdedup", "factor": r,
                                  "input_rows": n_dc, "out_rows": rows,
                                  "sec": round(t, 3)}))

            # cross-source duplication matrix (llm_ops.
            # cross_source_duplication shape): distinct (source,
            # chunk-hash) + self-equi-join on the hash — the claim
            # under test: pair volume bounded by n_chunks x n_sources
            # (block-disjoint replicas keep per-hash df flat), so the
            # matrix build stays linear in the corpus
            if _want("xsrc_dup"):
                from dissertation_iceberg_spark.operators import (
                    text as _tx2,
                )

                def xsrc_kernel(frame=dc):
                    t_ = _tx2.tokens(F.col("text"))
                    base = frame.select(
                        "source", t_.alias("t"), F.size(t_).alias("n")
                    )
                    ch = (
                        base.select(
                            "source",
                            F.explode(
                                F.when(
                                    F.col("n") >= 1,
                                    F.sequence(
                                        F.lit(1), F.col("n"), F.lit(16)
                                    ),
                                ).otherwise(
                                    F.array().cast("array<int>")
                                )
                            ).alias("s"),
                            "t",
                        )
                        .select(
                            "source",
                            F.md5(
                                F.array_join(
                                    F.slice(F.col("t"), F.col("s"), 16),
                                    " ",
                                )
                            ).alias("h"),
                        )
                        .distinct()
                    )
                    a_ = ch.alias("a")
                    b_ = ch.alias("b")
                    return (
                        a_.join(
                            b_,
                            (F.col("a.h") == F.col("b.h"))
                            & (F.col("a.source") < F.col("b.source")),
                        )
                        .groupBy(
                            F.col("a.source").alias("src_a"),
                            F.col("b.source").alias("src_b"),
                        )
                        .agg(F.count(F.lit(1)).alias("n_shared"))
                    )

                t, rows = timed(xsrc_kernel, action="count")
                print(json.dumps({"kernel": "xsrc_dup", "factor": r,
                                  "input_rows": n_dc, "out_rows": rows,
                                  "sec": round(t, 3)}))
            dc.unpersist()

        # block-shifted embeddings: replicas displaced along every axis
        if not _want("ivf_probe"):
            continue
        e = replicate(emb, r, {"vec_id": 10_000_000})
        if r > 1:
            e = e.withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x: (x + F.col("__rep").cast("float") * F.lit(0.01)),
                ),
            )
        e = e.drop("__rep").persist()
        n_vec = e.count()
        queries = emb.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        # production sizing rule: n_lists ~ sqrt(corpus) keeps per-list
        # size and centroid-table size balanced, so probe cost grows
        # ~sqrt(N) at fixed n_probe — that is the curve we measure
        n_lists = 16 * int(r**0.5)
        t0 = time.time()
        idx = build_ivf_index_exact(e, n_lists=n_lists, id_col="vec_id",
                                    vec_col="embedding")
        idx.lists.persist().count()
        idx.cent_df.persist().count()
        build_s = time.time() - t0
        # list-size distribution: first-k-by-id seeding puts every seed
        # in replica block 0 — do the displaced blocks pile into a few
        # megalists?
        sizes = sorted(
            row["count"] for row in idx.lists.groupBy("list_id").count().collect()
        )
        t, rows = timed(
            lambda: ivf_search_exact(idx, queries, k=3, n_probe=4),
            action="count",
        )
        print(json.dumps({"kernel": "ivf_probe", "factor": r,
                          "input_rows": n_vec, "out_rows": rows,
                          "n_lists": n_lists, "nonempty_lists": len(sizes),
                          "list_size_min_p50_max": [
                              sizes[0], sizes[len(sizes) // 2], sizes[-1]
                          ],
                          "largest_lists": sizes[::-1][:5],
                          "build_sec": round(build_s, 3), "sec": round(t, 3)}))
        idx.lists.unpersist()
        idx.cent_df.unpersist()
        e.unpersist()

    # ----------------------------------------------------------------
    # E1/E2/E3 end-to-end workflow compositions (round-4 additions):
    # these load their own tables from a sf_dir, so they scale on the
    # REAL sf ladder (sf0.001 -> sf0.01 -> sf0.1 = 1x/10x/100x data)
    # instead of key-replication — the claim under test: every stage
    # inherits its components' partitioned shapes, so the composed
    # pipelines stay near-linear end to end
    if _want("ijm"):
        from dissertation_iceberg_spark.queries.lakehouse_ops import (
            incremental_join_merge,
        )

        for d_sf, fac in [
            ("/root/testdata/sf0.001", 1),
            ("/root/testdata/sf0.01", 10),
            ("/root/testdata/sf0.1", 100),
        ]:
            if not os.path.isdir(d_sf):
                continue
            t, rows = timed(
                lambda: incremental_join_merge(spark, d_sf), action="count"
            )
            print(json.dumps({"kernel": "ijm", "factor": fac,
                              "sf_dir": d_sf, "out_rows": rows,
                              "sec": round(t, 3)}))

    if _want("workflows"):
        from dissertation_iceberg_spark.queries.workflow_queries import (
            portfolio_workflow_pnl,
            regression_workflow_coefs,
            single_strategy_workflow_pnl,
        )

        ladder = [
            ("/root/testdata/sf0.001", 1),
            ("/root/testdata/sf0.01", 10),
            ("/root/testdata/sf0.1", 100),
        ]
        for wf_name, wf in (
            ("wf_regression", regression_workflow_coefs),
            ("wf_single_strategy", single_strategy_workflow_pnl),
            ("wf_portfolio", portfolio_workflow_pnl),
        ):
            for d_sf, fac in ladder:
                if not os.path.isdir(d_sf):
                    continue
                t, rows = timed(lambda: wf(spark, d_sf), action="count")
                print(json.dumps({"kernel": wf_name, "factor": fac,
                                  "sf_dir": d_sf, "out_rows": rows,
                                  "sec": round(t, 3)}))


if __name__ == "__main__":
    main()
