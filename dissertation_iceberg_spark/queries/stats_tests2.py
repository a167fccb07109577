"""Statistical-test battery, continued: variance-homogeneity
(Brown-Forsythe/Levene) and the Welch unequal-variance t-test — the
two assumptions-checks that gate every mean-comparison the existing
battery runs (one_way_anova assumes equal variances; Welch is the
default when Levene rejects).

Reference provenance: extends the reference's two-sample testing
family (`direction_analysis.ipynb cells 75-80` Mann-Whitney /
`statistical_tests.py` t-test usage) with the variance-robust
variants every stats package pairs them with.

Parity tricks (see registry docstring): values ride as integer cents;
group medians are exact lower-order statistics computed on the
(type, cents) HISTOGRAM (distinct-value cumsums — no row-scale sort);
absolute deviations stay BIGINT so every power sum is exact; doubles
appear only in the final one-row statistic with identically-shaped
expressions on both engines (IEEE +,-,*,/ and sqrt are exactly
rounded, so identical op order == identical bits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.io import load_table, spread
from dissertation_iceberg_spark.functions.scalars import (
    explode_grid,
    bcast_params,
    with_scalars,
)
from dissertation_iceberg_spark.queries.behavior_ops import (
    _CAL_SPLIT,
    _holdout_scores,
)
from dissertation_iceberg_spark.queries.changepoint_ops import _daily_moves
from dissertation_iceberg_spark.queries.registry import register
from dissertation_iceberg_spark.queries.stats_tests import _durations, _risk_table
from dissertation_iceberg_spark.session import pin
from dissertation_iceberg_spark.functions.exact import r6, round_long
from dissertation_iceberg_spark.operators.regression import (
    centred_comoment,
    moment_sums,
    scaled_comoment,
)

# --------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) variance-homogeneity test
# --------------------------------------------------------------------------

_LEVENE_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
hist AS (
  SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt
  FROM v GROUP BY 1, 2),
cum AS (
  SELECT event_type, cents, cnt,
         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS c,
         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM hist),
med AS (
  SELECT event_type, CAST(min(cents) AS BIGINT) AS med
  FROM cum WHERE c >= (n + 1) // 2 GROUP BY 1),
z AS (
  SELECT h.event_type, h.cnt, abs(h.cents - m.med) AS z
  FROM hist h JOIN med m ON h.event_type = m.event_type),
g AS (
  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(cnt * z) AS BIGINT) AS s,
         CAST(sum(cnt * z * z) AS BIGINT) AS ss
  FROM z GROUP BY 1),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_tot,
         CAST(sum(s) AS BIGINT) AS s_tot,
         CAST(sum(ss) AS BIGINT) AS ss_tot,
         sum(CAST(s AS DOUBLE) * s / n) AS sum_grp
  FROM g)
SELECT k, n_tot,
  round((sum_grp - CAST(s_tot AS DOUBLE) * s_tot / n_tot) / 1e4, 6)
    AS ss_between,
  round((CAST(ss_tot AS DOUBLE) - sum_grp) / 1e4, 6) AS ss_within,
  round(CASE WHEN (CAST(ss_tot AS DOUBLE) - sum_grp) > 0 AND n_tot > k
        THEN ((sum_grp - CAST(s_tot AS DOUBLE) * s_tot / n_tot) / (k - 1))
        / ((CAST(ss_tot AS DOUBLE) - sum_grp) / (n_tot - k)) END, 6)
    AS w_stat
FROM t WHERE k > 1
"""


@register("levene_test", oracle=_LEVENE_ORACLE)
def levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene with median centering) for equal
    variances of `value` across event types: W is the one-way ANOVA F
    statistic applied to the absolute deviations from each group's
    median — the robust variance-homogeneity gate that decides
    between the pooled t/ANOVA and their Welch variants.

    Scale shape: the fact table reduces to a (type, distinct-cents)
    HISTOGRAM in one map-side-combinable pass; the group median is an
    exact lower order statistic read off the histogram cumsum
    (O(distinct values) window rows per type, never a row-scale
    sort), and the deviations are aggregated ON the weighted
    histogram, so no second fact-scale pass exists. All power sums
    are exact BIGINT; doubles evaluate once on the final 1-row frame.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", round_long(F.col("value") * 100).alias("cents")
    )
    hist = v.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tw = Window.partitionBy("event_type")
    cw = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt").over(cw).cast("long").alias("c"),
        F.sum("cnt").over(tw).cast("long").alias("n"),
    )
    med = (
        cum.filter(F.col("c") >= F.floor((F.col("n") + 1) / 2))
        .groupBy("event_type")
        .agg(F.min("cents").cast("long").alias("med"))
    )
    z = hist.join(F.broadcast(med), "event_type").select(
        "event_type", "cnt", F.abs(F.col("cents") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt") * F.col("z")).cast("long").alias("s"),
        F.sum(F.col("cnt") * F.col("z") * F.col("z")).cast("long").alias("ss"),
    )
    t = g.coalesce(1).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s").cast("long").alias("s_tot"),
        F.sum("ss").cast("long").alias("ss_tot"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias(
            "sum_grp"
        ),
    )
    grand = F.col("s_tot").cast("double") * F.col("s_tot") / F.col("n_tot")
    ss_b = F.col("sum_grp") - grand
    ss_w = F.col("ss_tot").cast("double") - F.col("sum_grp")
    # k = 1 (round-7 one-type fuzz): the test is undefined -> zero
    # rows; zero within-variance NULLs W instead of dividing by zero
    return t.filter(F.col("k") > 1).select(
        "k",
        "n_tot",
        F.round(ss_b / 1e4, 6).alias("ss_between"),
        F.round(ss_w / 1e4, 6).alias("ss_within"),
        F.round(
            F.when(
                (ss_w > 0) & (F.col("n_tot") > F.col("k")),
                (ss_b / (F.col("k") - 1))
                / (ss_w / (F.col("n_tot") - F.col("k"))),
            ),
            6,
        ).alias("w_stat"),
    )


# --------------------------------------------------------------------------
# Welch's unequal-variance t-test (purchase vs click event values)
# --------------------------------------------------------------------------

_GRP_A = "purchase"
_GRP_B = "click"

_WELCH_ORACLE = f"""
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('{_GRP_A}', '{_GRP_B}')),
s AS (
  SELECT
    CAST(sum(CASE WHEN event_type = '{_GRP_A}' THEN 1 ELSE 0 END) AS BIGINT)
      AS n1,
    CAST(sum(CASE WHEN event_type = '{_GRP_A}' THEN cents ELSE 0 END)
         AS BIGINT) AS s1,
    CAST(sum(CASE WHEN event_type = '{_GRP_A}' THEN cents * cents ELSE 0 END)
         AS BIGINT) AS ss1,
    CAST(sum(CASE WHEN event_type = '{_GRP_B}' THEN 1 ELSE 0 END) AS BIGINT)
      AS n2,
    CAST(sum(CASE WHEN event_type = '{_GRP_B}' THEN cents ELSE 0 END)
         AS BIGINT) AS s2,
    CAST(sum(CASE WHEN event_type = '{_GRP_B}' THEN cents * cents ELSE 0 END)
         AS BIGINT) AS ss2
  FROM v),
k AS (
  SELECT *,
    (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
    (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) AS v2,
    CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS md
  FROM s)
SELECT n1, n2,
  round(CAST(s1 AS DOUBLE) / n1 / 100.0, 6) AS mean_a,
  round(CAST(s2 AS DOUBLE) / n2 / 100.0, 6) AS mean_b,
  round(md / sqrt(v1 / n1 + v2 / n2), 6) AS t_welch,
  round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
        / ((v1 / n1) * (v1 / n1) / (n1 - 1)
           + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS df_welch,
  round(md / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
                  * (1.0 / n1 + 1.0 / n2)), 6) AS t_pooled,
  CAST(n1 + n2 - 2 AS BIGINT) AS df_pooled
FROM k
"""


@register("welch_ttest", oracle=_WELCH_ORACLE)
def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of mean event value between
    '{a}' and '{b}' events — t statistic and Welch-Satterthwaite
    degrees of freedom — beside the pooled Student t for contrast
    (the pair every A/B readout reports when levene_test rejects
    equal variances).

    Scale shape: ONE conditional-sum pass over the fact table
    produces the six exact BIGINT power sums; every double expression
    (sample variances, t, df) evaluates once on the single reduced
    row with identically-shaped IEEE arithmetic in both engines.
    """.format(a=_GRP_A, b=_GRP_B)
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type").isin(_GRP_A, _GRP_B)).select(
        "event_type", round_long(F.col("value") * 100).alias("cents")
    )
    is_a = (F.col("event_type") == _GRP_A).cast("long")
    is_b = (F.col("event_type") == _GRP_B).cast("long")
    s = v.agg(
        F.sum(is_a).cast("long").alias("n1"),
        F.sum(is_a * F.col("cents")).cast("long").alias("s1"),
        F.sum(is_a * F.col("cents") * F.col("cents")).cast("long").alias("ss1"),
        F.sum(is_b).cast("long").alias("n2"),
        F.sum(is_b * F.col("cents")).cast("long").alias("s2"),
        F.sum(is_b * F.col("cents") * F.col("cents")).cast("long").alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    # degenerate-arm guards (round-7 tiny fuzz): an n <= 1 arm leaves
    # its sample variance undefined and zero-variance arms leave t/df
    # undefined — NULL statistics on both engines (DuckDB's division
    # by zero is already NULL-valued, so the oracle needs no CASE)
    v1 = F.when(
        n1 > 1,
        (
            F.col("ss1").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / n1
        )
        / (n1 - 1),
    )
    v2 = F.when(
        n2 > 1,
        (
            F.col("ss2").cast("double")
            - F.col("s2").cast("double") * F.col("s2") / n2
        )
        / (n2 - 1),
    )
    md = F.when(
        (n1 > 0) & (n2 > 0),
        F.col("s1").cast("double") / n1 - F.col("s2").cast("double") / n2,
    )
    se2 = v1 / n1 + v2 / n2
    df_den = (v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (
        n2 - 1
    )
    pooled = F.when(
        (n1 > 0) & (n2 > 0) & (n1 + n2 > 2),
        ((n1 - 1) * v1 + (n2 - 1) * v2)
        / (n1 + n2 - 2)
        * (1.0 / n1 + 1.0 / n2),
    )
    return s.select(
        "n1",
        "n2",
        F.round(
            F.when(n1 > 0, F.col("s1").cast("double") / n1 / 100.0), 6
        ).alias("mean_a"),
        F.round(
            F.when(n2 > 0, F.col("s2").cast("double") / n2 / 100.0), 6
        ).alias("mean_b"),
        F.round(F.when(se2 != 0, md / F.sqrt(se2)), 6).alias("t_welch"),
        F.round(F.when(df_den != 0, se2 * se2 / df_den), 6).alias(
            "df_welch"
        ),
        F.round(F.when(pooled != 0, md / F.sqrt(pooled)), 6).alias(
            "t_pooled"
        ),
        (n1 + n2 - 2).cast("long").alias("df_pooled"),
    )


# --------------------------------------------------------------------------
# Gradient-boosted stumps (exact greedy, 3 rounds, run-parity oracle)
# --------------------------------------------------------------------------

_GBM_ROUNDS = 3

def _gbm_round_sql(k: int) -> str:
    """One boosting round as SQL CTEs: histogram over both feature
    columns, cumulative split scan, argmax-gain split, floor-rounded
    integer leaf values, residual update."""
    return f"""
hist{k} AS (
  SELECT f, v, CAST(count(*) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS s
  FROM (SELECT 'quantity' AS f, q AS v, r FROM resid{k}
        UNION ALL SELECT 'discount' AS f, d AS v, r FROM resid{k}) u
  GROUP BY 1, 2),
tot{k} AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(r) AS BIGINT) AS s_all
  FROM resid{k}),
cum{k} AS (
  SELECT f, v,
         CAST(sum(n) OVER w AS BIGINT) AS cn,
         CAST(sum(s) OVER w AS BIGINT) AS cs
  FROM hist{k}
  WINDOW w AS (PARTITION BY f ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
best{k} AS (
  SELECT f, v, cn AS n_l, n_all - cn AS n_r,
         CAST(floor((2.0 * cs + cn) / (2.0 * cn)) AS BIGINT) AS wl,
         CAST(floor((2.0 * (s_all - cs) + (n_all - cn))
                    / (2.0 * (n_all - cn))) AS BIGINT) AS wr,
         CAST(cs AS DOUBLE) * cs / cn
           + CAST(s_all - cs AS DOUBLE) * (s_all - cs) / (n_all - cn) AS gain
  FROM cum{k} CROSS JOIN tot{k}
  WHERE n_all - cn > 0
  ORDER BY gain DESC, f ASC, v ASC LIMIT 1),
resid{k + 1} AS (
  SELECT q, d,
         r - CASE WHEN (b.f = 'quantity' AND q <= b.v)
                    OR (b.f = 'discount' AND d <= b.v)
                  THEN b.wl ELSE b.wr END AS r
  FROM resid{k} CROSS JOIN best{k} b),
out{k} AS (
  SELECT CAST({k} AS BIGINT) AS round, b.f AS feature,
         CAST(b.v AS BIGINT) AS threshold,
         b.n_l AS left_n, b.n_r AS right_n,
         b.wl / 100.0 AS left_leaf, b.wr / 100.0 AS right_leaf,
         (SELECT round(CAST(sum(CAST(floor(CAST(r AS DOUBLE) * r / 1e4)
                                     AS BIGINT)) AS BIGINT) / cnt.c / 1e4, 6)
          FROM resid{k + 1}, (SELECT CAST(count(*) AS BIGINT) AS c
                              FROM resid{k + 1}) cnt
          GROUP BY cnt.c) AS mse_after
  FROM best{k} b)"""


_GBM_ORACLE = (
    """
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_discount * 100) AS BIGINT) AS d,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
f0 AS (
  SELECT CAST(floor((2.0 * sum(y) + count(*)) / (2.0 * count(*)))
              AS BIGINT) AS f0
  FROM base),
resid1 AS (SELECT q, d, y - f0.f0 AS r FROM base CROSS JOIN f0),"""
    + ",".join(_gbm_round_sql(k) for k in range(1, _GBM_ROUNDS + 1))
    + """
SELECT * FROM out1 UNION ALL SELECT * FROM out2 UNION ALL SELECT * FROM out3
"""
)


@register("gbm_stumps", oracle=_GBM_ORACLE)
def gbm_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted decision stumps (squared loss, 3 rounds) on
    lineitem: predict extended price from quantity and discount; each
    round runs an EXACT greedy split search over BOTH feature
    histograms (argmax of S_L²/n_L + S_R²/n_R with deterministic
    gain/feature/threshold tiebreak), fits floor-rounded integer-cent
    leaf values, and boosts the residuals — distributed GBM training
    whose 3-round trace (split, leaves, MSE) is value-identical in
    the DuckDB oracle replay (run parity, like kmeans/BPE).

    Cross-engine determinism: residuals stay exact BIGINT cents
    end-to-end (leaf = floor((2S+n)/(2n)) via the <2^52 exact
    floor-of-double-division identity); gains are doubles built from
    exact ints with identically-shaped IEEE ops, so the argmax
    matches bit-for-bit; per-round MSE sums floor(r²/1e4) — exact
    BIGINT — never raw doubles.

    Scale shape: each round is one map-side-combinable histogram over
    the fact scan (<= 61 candidate rows: 50 quantities + 11
    discounts), a cumsum on that tiny frame, and a 1-row broadcast
    back onto the facts for the residual update — no collect, no
    row-scale sort, 3 fact passes total (+3 for the MSE audit).
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        round_long(F.col("l_discount") * 100).alias("d"),
        round_long(F.col("l_extendedprice") * 100).alias("y"),
    )
    f0 = base.agg(
        F.floor(
            (2.0 * F.sum("y") + F.count(F.lit(1)))
            / (2.0 * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("f0")
    )
    resid = base.transform(bcast_params, f0).select(
        "q", "d", (F.col("y") - F.col("f0")).alias("r")
    )

    outs = []
    for k in range(1, _GBM_ROUNDS + 1):
        hist = (
            resid.select(F.lit("quantity").alias("f"), F.col("q").alias("v"), "r")
            .unionByName(
                resid.select(
                    F.lit("discount").alias("f"), F.col("d").alias("v"), "r"
                )
            )
            .groupBy("f", "v")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("r").cast("long").alias("s"),
            )
        )
        tot = resid.agg(
            F.count(F.lit(1)).cast("long").alias("n_all"),
            F.sum("r").cast("long").alias("s_all"),
        )
        cw = (
            Window.partitionBy("f")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = hist.select(
            "f",
            "v",
            F.sum("n").over(cw).cast("long").alias("cn"),
            F.sum("s").over(cw).cast("long").alias("cs"),
        )
        cn, cs = F.col("cn"), F.col("cs")
        n_all, s_all = F.col("n_all"), F.col("s_all")
        best = (
            cum.transform(bcast_params, tot)
            .filter(n_all - cn > 0)
            .select(
                "f",
                "v",
                cn.alias("n_l"),
                (n_all - cn).alias("n_r"),
                F.floor((2.0 * cs + cn) / (2.0 * cn)).cast("long").alias("wl"),
                F.floor(
                    (2.0 * (s_all - cs) + (n_all - cn)) / (2.0 * (n_all - cn))
                )
                .cast("long")
                .alias("wr"),
                (
                    cs.cast("double") * cs / cn
                    + (s_all - cs).cast("double") * (s_all - cs) / (n_all - cn)
                ).alias("gain"),
            )
            .orderBy(F.desc("gain"), F.asc("f"), F.asc("v"))
            .limit(1)
        )
        # pinned once per round: the round reads resid in hist, tot and
        # the update, so unpinned the plan doubled every round
        resid = (
            resid.transform(bcast_params, best)
            .select(
                "q",
                "d",
                (
                    F.col("r")
                    - F.when(
                        ((F.col("f") == "quantity") & (F.col("q") <= F.col("v")))
                        | ((F.col("f") == "discount") & (F.col("d") <= F.col("v"))),
                        F.col("wl"),
                    ).otherwise(F.col("wr"))
                ).alias("r"),
            )
            .transform(pin)
        )
        mse = resid.agg(
            F.round(
                F.sum(
                    F.floor(F.col("r").cast("double") * F.col("r") / 1e4).cast(
                        "long"
                    )
                ).cast("long")
                / F.count(F.lit(1))
                / 1e4,
                6,
            ).alias("mse_after")
        )
        outs.append(
            best.transform(bcast_params, mse).select(
                F.lit(k).cast("long").alias("round"),
                F.col("f").alias("feature"),
                F.col("v").cast("long").alias("threshold"),
                F.col("n_l").alias("left_n"),
                F.col("n_r").alias("right_n"),
                (F.col("wl") / 100.0).alias("left_leaf"),
                (F.col("wr") / 100.0).alias("right_leaf"),
                "mse_after",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# --------------------------------------------------------------------------
# kNN classification eval over the embedding corpus
# --------------------------------------------------------------------------

_KNN_MOD = 10  # every 10th vector is a held-out query
_KNN_K = 5

_KNN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec, label AS true_label
  FROM embeddings WHERE vec_id % {_KNN_MOD} = 0),
pairs AS (
  SELECT q.qid, q.true_label, e.vec_id AS neighbor_id, e.label AS nbr_label,
    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
     FROM (SELECT unnest(q.qvec) AS x, unnest(e.embedding) AS y) z) AS dot,
    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
     FROM (SELECT unnest(q.qvec) AS x) z) AS nq,
    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
     FROM (SELECT unnest(e.embedding) AS y) z) AS ne
  FROM embeddings e, q WHERE q.qid <> e.vec_id),
nn AS (
  SELECT qid, true_label, nbr_label,
         row_number() OVER (PARTITION BY qid
           ORDER BY round(dot / (sqrt(nq) * sqrt(ne)), 6) DESC, neighbor_id)
           AS rnk
  FROM pairs QUALIFY rnk <= {_KNN_K}),
votes AS (
  SELECT qid, true_label, nbr_label, CAST(count(*) AS BIGINT) AS n_votes
  FROM nn GROUP BY 1, 2, 3),
pick AS (
  SELECT qid, true_label,
         CAST(nbr_label AS BIGINT) AS pred_label, n_votes,
         row_number() OVER (PARTITION BY qid
           ORDER BY n_votes DESC, nbr_label ASC) AS r
  FROM votes QUALIFY r = 1)
SELECT qid, CAST(true_label AS BIGINT) AS true_label, pred_label, n_votes,
       CAST(pred_label = true_label AS BIGINT) AS correct
FROM pick
"""


@register("knn_classify", oracle=_KNN_ORACLE)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification eval: every {mod}-th
    embedding is a held-out query, its label predicted by majority
    vote of the {k} nearest remaining vectors by exact cosine
    (ties: larger vote count, then smaller label) — the standard
    embedding-quality probe (a good embedding space classifies by
    neighborhood) beside silhouette_by_label's geometric view.

    Scale shape: reuses the brute-force cosine kernel as the ORACLE
    BASELINE (broadcast query side × corpus scan — the two registered
    ANN paths, lsh_ann_topk / ivf_ann_topk, are the bulk-scale
    substitutes); the vote and accuracy stages are O(queries · k)
    aggregations. Determinism: neighbor ranks order by the 6-dp
    rounded cosine with neighbor_id tiebreak, identical in both
    engines.
    """.format(mod=_KNN_MOD, k=_KNN_K)
    from dissertation_iceberg_spark.io import spread
    from dissertation_iceberg_spark.operators.similarity import cosine_topk

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % _KNN_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nn = cosine_topk(emb, queries, k=_KNN_K)
    labeled = nn.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nbr_label"),
        ),
        "neighbor_id",
    )
    votes = labeled.groupBy("qid", "nbr_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    pw = Window.partitionBy("qid").orderBy(
        F.desc("n_votes"), F.asc("nbr_label")
    )
    pick = (
        votes.withColumn("r", F.row_number().over(pw))
        .filter(F.col("r") == 1)
        .select("qid", F.col("nbr_label").cast("long").alias("pred_label"), "n_votes")
    )
    truth = emb.filter(F.col("vec_id") % _KNN_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").cast("long").alias("true_label"),
    )
    return pick.join(truth, "qid").select(
        "qid",
        "true_label",
        "pred_label",
        "n_votes",
        (F.col("pred_label") == F.col("true_label")).cast("long").alias("correct"),
    )


# --------------------------------------------------------------------------
# Tukey HSD post-hoc pairwise comparisons (follows one_way_anova)
# --------------------------------------------------------------------------

_TUKEY_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS ss
  FROM v GROUP BY 1),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_tot,
         CAST(sum(ss) AS BIGINT) AS ss_tot,
         sum(CAST(s AS DOUBLE) * s / n) AS sum_grp
  FROM g),
msw AS (
  SELECT k, n_tot,
         (CAST(ss_tot AS DOUBLE) - sum_grp) / (n_tot - k) AS msw
  FROM t)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       a.n AS n_a, b.n AS n_b,
       round(CAST(a.s AS DOUBLE) / a.n / 100.0, 6) AS mean_a,
       round(CAST(b.s AS DOUBLE) / b.n / 100.0, 6) AS mean_b,
       round(abs(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             / sqrt(m.msw / 2.0 * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat,
       CAST(m.n_tot - m.k AS BIGINT) AS df_within
FROM g a JOIN g b ON a.event_type < b.event_type CROSS JOIN msw m
"""


@register("tukey_hsd", oracle=_TUKEY_ORACLE)
def tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc battery: the studentized-range statistic
    q = |m_i − m_j| / sqrt(MSW/2 · (1/n_i + 1/n_j)) for every
    unordered pair of event types (Tukey-Kramer form for unequal n),
    with the shared within-group df — the pairwise follow-up every
    ANOVA rejection demands (which groups differ, not just whether
    any do).

    Scale shape: the same single map-side-combinable power-sum pass
    as one_way_anova; the pair join runs on the O(k) group frame
    (k=5 here) with the 1-row MSW broadcast onto it. All power sums
    are exact BIGINT; doubles evaluate once per pair row.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", round_long(F.col("value") * 100).alias("cents")
    )
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"),
    )
    t = g.coalesce(1).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("ss").cast("long").alias("ss_tot"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias(
            "sum_grp"
        ),
    )
    msw = t.select(
        "k",
        "n_tot",
        (
            (F.col("ss_tot").cast("double") - F.col("sum_grp"))
            / (F.col("n_tot") - F.col("k"))
        ).alias("msw"),
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b")).transform(with_scalars, msw)
    ma = F.col("s_a").cast("double") / F.col("n_a")
    mb = F.col("s_b").cast("double") / F.col("n_b")
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.round(ma / 100.0, 6).alias("mean_a"),
        F.round(mb / 100.0, 6).alias("mean_b"),
        F.round(
            F.abs(ma - mb)
            / F.sqrt(
                F.col("msw") / 2.0 * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            ),
            6,
        ).alias("q_stat"),
        (F.col("n_tot") - F.col("k")).cast("long").alias("df_within"),
    )


# --------------------------------------------------------------------------
# Kruskal-Wallis H test (nonparametric k-group ANOVA)
# --------------------------------------------------------------------------

_KW_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
gh AS (
  SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt_g
  FROM v GROUP BY 1, 2),
h AS (
  SELECT cents, CAST(sum(cnt_g) AS BIGINT) AS cnt
  FROM gh GROUP BY 1),
cumh AS (
  SELECT cents, cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM h),
r2 AS (
  SELECT cents, cnt, 2 * cum_before + cnt + 1 AS rank2 FROM cumh),
g AS (
  SELECT gh.event_type,
         CAST(sum(gh.cnt_g) AS BIGINT) AS n,
         CAST(sum(gh.cnt_g * r2.rank2) AS BIGINT) AS s2
  FROM gh JOIN r2 ON gh.cents = r2.cents
  GROUP BY 1),
ties AS (
  SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum FROM h),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_tot,
         sum(CAST(s2 AS DOUBLE) * s2 / n) AS sum_grp
  FROM g)
SELECT t.k, t.n_tot,
  round(3.0 * t.sum_grp / (CAST(t.n_tot AS DOUBLE) * (t.n_tot + 1))
        - 3.0 * (t.n_tot + 1), 6) AS h_stat,
  round(1.0 - CAST(ties.tie_sum AS DOUBLE)
              / (CAST(t.n_tot AS DOUBLE) * t.n_tot * t.n_tot - t.n_tot), 6)
    AS tie_correction,
  round((3.0 * t.sum_grp / (CAST(t.n_tot AS DOUBLE) * (t.n_tot + 1))
         - 3.0 * (t.n_tot + 1))
        / (1.0 - CAST(ties.tie_sum AS DOUBLE)
                 / (CAST(t.n_tot AS DOUBLE) * t.n_tot * t.n_tot - t.n_tot)),
        6) AS h_corrected
FROM t CROSS JOIN ties
"""


@register("kruskal_wallis", oracle=_KW_ORACLE)
def kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of `value` across event types — the
    nonparametric one-way ANOVA (rank-based, outlier-immune), with
    the exact tie-correction factor — completing the k-group family
    beside one_way_anova (means), levene_test (variances) and the
    two-group Mann-Whitney.

    Scale shape: NO row-scale rank sort exists. Midranks come off the
    global distinct-value HISTOGRAM (avg rank of a tie group =
    cum_before + (cnt+1)/2, carried ×2 as the exact integer
    2·cum_before + cnt + 1), and per-group rank sums are weighted
    sums of those midranks against the (type, value) histogram — the
    same bounded-distinct-values trick as levene_test/mann_whitney.
    Tie correction Σ(t³−t) is an exact BIGINT sum over the histogram.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", round_long(F.col("value") * 100).alias("cents")
    )
    gh = v.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_g")
    )
    h = gh.groupBy("cents").agg(F.sum("cnt_g").cast("long").alias("cnt"))
    cw = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    r2 = h.select(
        "cents",
        "cnt",
        (
            2 * F.coalesce(F.sum("cnt").over(cw), F.lit(0))
            + F.col("cnt")
            + 1
        )
        .cast("long")
        .alias("rank2"),
    )
    g = (
        gh.join(r2.select("cents", "rank2"), "cents")
        .groupBy("event_type")
        .agg(
            F.sum("cnt_g").cast("long").alias("n"),
            F.sum(F.col("cnt_g") * F.col("rank2")).cast("long").alias("s2"),
        )
    )
    ties = h.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_sum")
    )
    t = g.coalesce(1).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(F.col("s2").cast("double") * F.col("s2") / F.col("n")).alias(
            "sum_grp"
        ),
    )
    nt = F.col("n_tot")
    h_stat = 3.0 * F.col("sum_grp") / (nt.cast("double") * (nt + 1)) - 3.0 * (
        nt + 1
    )
    corr = 1.0 - F.col("tie_sum").cast("double") / (
        nt.cast("double") * nt * nt - nt
    )
    return t.transform(with_scalars, ties).select(
        "k",
        "n_tot",
        F.round(h_stat, 6).alias("h_stat"),
        F.round(corr, 6).alias("tie_correction"),
        F.round(h_stat / corr, 6).alias("h_corrected"),
    )


# --------------------------------------------------------------------------
# Friedman test (rank-based repeated-measures ANOVA over day blocks)
# --------------------------------------------------------------------------

_FRIEDMAN_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1, 2),
kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM daily),
blocks AS (
  SELECT day FROM daily GROUP BY 1
  HAVING count(*) = (SELECT k FROM kk)),
cells AS (
  SELECT d.day, d.event_type, CAST(d.s AS DOUBLE) / d.n AS m
  FROM daily d JOIN blocks b ON d.day = b.day),
ranked AS (
  SELECT day, event_type,
         CAST(2 * rank() OVER (PARTITION BY day ORDER BY m)
              + count(*) OVER (PARTITION BY day, m) - 1 AS BIGINT) AS r2
  FROM cells),
rs AS (
  SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2_sum,
         CAST(count(*) AS BIGINT) AS n_blocks
  FROM ranked GROUP BY 1),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(any_value(n_blocks) AS BIGINT) AS n,
         CAST(sum(r2_sum * r2_sum) AS BIGINT) AS ssr2
  FROM rs),
q AS (
  SELECT k, n,
         3.0 * ssr2 / (CAST(n AS DOUBLE) * k * (k + 1)) - 3.0 * n * (k + 1)
           AS q_stat
  FROM t)
SELECT rs.event_type, rs.n_blocks,
       round(CAST(rs.r2_sum AS DOUBLE) / (2 * rs.n_blocks), 6) AS mean_rank,
       round(q.q_stat, 6) AS q_stat,
       round(q.q_stat / (CAST(q.n AS DOUBLE) * (q.k - 1)), 6) AS kendall_w
FROM rs CROSS JOIN q WHERE q.k > 1
"""


@register("friedman_test", oracle=_FRIEDMAN_ORACLE)
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: within each complete day block, rank the event
    types by mean value (average midranks on ties, carried as the
    exact integer 2·rank + ties − 1); the chi-square statistic
    Q = 12/(nk(k+1))·ΣR_j² − 3n(k+1) and Kendall's W = Q/(n(k−1))
    concordance — the repeated-measures sibling of kruskal_wallis
    (blocks remove the day effect the pooled test ignores).

    Scale shape: one fact-scale map-side-combinable (day, type)
    aggregate; ranking happens per day over k=5 rows (bounded
    partitions), and all rank sums are exact BIGINT. The day means
    enter the per-block ORDER BY as doubles built by one IEEE
    division of exact ints — identical in both engines, so ranks and
    tie groups match exactly.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(round_long(F.col("value") * 100))
        .cast("long")
        .alias("s"),
    )
    k_all = daily.agg(
        F.countDistinct("event_type").cast("long").alias("k")
    )
    blocks = (
        daily.groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(with_scalars, k_all)
        .filter(F.col("c") == F.col("k"))
        .select("day")
    )
    cells = daily.join(blocks, "day").select(
        "day", "event_type", (F.col("s").cast("double") / F.col("n")).alias("m")
    )
    rw = Window.partitionBy("day").orderBy("m")
    tw = Window.partitionBy("day", "m")
    ranked = cells.select(
        "day",
        "event_type",
        (2 * F.rank().over(rw) + F.count(F.lit(1)).over(tw) - 1)
        .cast("long")
        .alias("r2"),
    )
    rs = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("r2_sum"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    t = rs.coalesce(1).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.any_value("n_blocks").cast("long").alias("n"),
        F.sum(F.col("r2_sum") * F.col("r2_sum")).cast("long").alias("ssr2"),
    )
    kq, nq = F.col("k"), F.col("n")
    q = t.select(
        "k",
        "n",
        (
            3.0 * F.col("ssr2") / (nq.cast("double") * kq * (kq + 1))
            - 3.0 * nq * (kq + 1)
        ).alias("q_stat"),
    )
    # k = 1 (round-7 one-type fuzz): a one-treatment blocked design has
    # no Friedman statistic — zero rows on both engines
    return rs.transform(with_scalars, q).filter(F.col("k") > 1).select(
        "event_type",
        "n_blocks",
        F.round(
            F.col("r2_sum").cast("double") / (2 * F.col("n_blocks")), 6
        ).alias("mean_rank"),
        F.round(F.col("q_stat"), 6).alias("q_stat"),
        F.round(
            F.col("q_stat") / (F.col("n").cast("double") * (F.col("k") - 1)), 6
        ).alias("kendall_w"),
    )


# --------------------------------------------------------------------------
# 1-D Wasserstein (earth mover's) distance between value distributions
# --------------------------------------------------------------------------

_W1_A = "purchase"
_W1_B = "click"

_W1_ORACLE = f"""
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('{_W1_A}', '{_W1_B}')),
h AS (
  SELECT cents,
         CAST(sum(CASE WHEN event_type = '{_W1_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = '{_W1_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM v GROUP BY 1),
cum AS (
  SELECT cents,
         CAST(sum(ca) OVER w AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER w AS BIGINT) AS cum_b,
         CAST(sum(ca) OVER () AS BIGINT) AS n_a,
         CAST(sum(cb) OVER () AS BIGINT) AS n_b,
         lead(cents) OVER (ORDER BY cents) AS next_cents
  FROM h
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)),
terms AS (
  SELECT n_a, n_b,
         CAST(round(abs(CAST(cum_a AS DOUBLE) / n_a
                        - CAST(cum_b AS DOUBLE) / n_b)
                    * (next_cents - cents) * 1e6) AS BIGINT) AS term_micro
  FROM cum WHERE next_cents IS NOT NULL)
SELECT CAST(any_value(n_a) AS BIGINT) AS n_a,
       CAST(any_value(n_b) AS BIGINT) AS n_b,
       CAST(count(*) AS BIGINT) AS n_grid,
       CAST(sum(term_micro) AS BIGINT) / 1e6 / 100.0 AS w1_dollars
FROM terms
"""


@register("wasserstein_1d", oracle=_W1_ORACLE)
def wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between the
    '{a}' and '{b}' value distributions: ∫|F_A − F_B| over the value
    axis, evaluated exactly on the merged distinct-value grid — the
    transport-cost drift metric that, unlike KS (max gap) or PSI
    (binned), weighs HOW FAR mass moved, in dollars.

    Scale shape: one conditional-count histogram pass over the fact
    rows, then cumsums and one lead() on the O(distinct values)
    frame. Each grid term |ΔF|·gap is micro-rounded ONCE to BIGINT
    (per-term doubles are IEEE-identical in both engines) and summed
    exactly, so the distance itself hash-matches the oracle.
    """.format(a=_W1_A, b=_W1_B)
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type").isin(_W1_A, _W1_B)).select(
        "event_type", round_long(F.col("value") * 100).alias("cents")
    )
    h = v.groupBy("cents").agg(
        F.sum((F.col("event_type") == _W1_A).cast("long"))
        .cast("long")
        .alias("ca"),
        F.sum((F.col("event_type") == _W1_B).cast("long"))
        .cast("long")
        .alias("cb"),
    )
    cw = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = h.select(
        "cents",
        F.sum("ca").over(cw).cast("long").alias("cum_a"),
        F.sum("cb").over(cw).cast("long").alias("cum_b"),
        F.sum("ca").over(wall).cast("long").alias("n_a"),
        F.sum("cb").over(wall).cast("long").alias("n_b"),
        F.lead("cents").over(Window.orderBy("cents")).alias("next_cents"),
    )
    terms = cum.filter(F.col("next_cents").isNotNull()).select(
        "n_a",
        "n_b",
        round_long(
            F.abs(
                F.col("cum_a").cast("double") / F.col("n_a")
                - F.col("cum_b").cast("double") / F.col("n_b")
            )
            * (F.col("next_cents") - F.col("cents"))
            * 1e6
        )
        .alias("term_micro"),
    )
    return terms.agg(
        F.any_value("n_a").cast("long").alias("n_a"),
        F.any_value("n_b").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_grid"),
        (F.sum("term_micro").cast("long") / 1e6 / 100.0).alias("w1_dollars"),
    )


# --------------------------------------------------------------------------
# Propensity-score matching: ATT of error exposure on purchase spend
# --------------------------------------------------------------------------

_PSM_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS score,
         CAST(CASE WHEN 5 * sum(CASE WHEN event_type = 'error'
                                       THEN 1 ELSE 0 END) > count(*)
                   THEN 1 ELSE 0 END AS BIGINT) AS treated,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1),
strata AS (
  SELECT score,
         CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(sum(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT) AS sc,
         CAST(sum(treated) AS BIGINT) AS nt
  FROM u GROUP BY 1),
nbr AS (
  SELECT score, nc, sc, nt,
         last_value(CASE WHEN nc > 0 THEN score END IGNORE NULLS)
           OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS prev_c,
         first_value(CASE WHEN nc > 0 THEN score END IGNORE NULLS)
           OVER (ORDER BY score ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS next_c
  FROM strata),
match AS (
  SELECT score, nt,
         CASE
           WHEN prev_c IS NULL THEN next_c
           WHEN next_c IS NULL THEN prev_c
           WHEN score - prev_c <= next_c - score THEN prev_c
           ELSE next_c
         END AS m_score
  FROM nbr WHERE nt > 0),
matched AS (
  SELECT m.score, m.nt, m.m_score, s.nc AS m_nc, s.sc AS m_sc
  FROM match m JOIN strata s ON s.score = m.m_score),
terms AS (
  SELECT t.user_id, t.y, m.m_score, m.m_nc, m.m_sc,
         abs(t.score - m.m_score) AS gap,
         CAST(round((t.y - CAST(m.m_sc AS DOUBLE) / m.m_nc) * 1e2)
              AS BIGINT) AS att_term
  FROM u t JOIN matched m ON t.score = m.score
  WHERE t.treated = 1),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_treated,
         CAST(sum(att_term) AS BIGINT) AS att_sum,
         CAST(sum(gap) AS BIGINT) AS gap_sum,
         CAST(sum(y) AS BIGINT) AS y_sum
  FROM terms),
ctl AS (
  SELECT CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_controls
  FROM u)
SELECT a.n_treated, c.n_controls,
       round(CAST(a.att_sum AS DOUBLE) / a.n_treated / 1e4, 6)
         AS att_dollars,
       round(CAST(a.y_sum AS DOUBLE) / a.n_treated / 100.0, 6)
         AS mean_treated_dollars,
       round(CAST(a.gap_sum AS DOUBLE) / a.n_treated, 6) AS mean_score_gap
FROM agg a CROSS JOIN ctl c
"""


@register("psm_att", oracle=_PSM_ORACLE)
def psm_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score matching: the average treatment effect on the
    treated (ATT) of heavy error exposure (error share > 1/5) on
    purchase spend, matching each treated user to the nearest-activity-score
    control stratum with replacement (ties toward the lower score),
    the control outcome being the stratum mean — the workhorse
    observational-causal estimator beside cuped_adjustment and
    diff_in_diff.

    Scale shape: users reduce to (score, treated) strata in one pass;
    nearest-control matching is a masked ffill/bfill over the
    O(distinct scores) frame (the W2 adjacent-direction machinery —
    NOT a pairwise distance join), and each treated user contributes
    one micro-rounded exact term to the ATT sum. Determinism: stratum
    means are single IEEE divisions of exact BIGINTs; matching ties
    break toward the earlier score.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("score"),
        (
            5 * F.sum((F.col("event_type") == "error").cast("long"))
            > F.count(F.lit(1))
        )
        .cast("long")
        .alias("treated"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                round_long(F.col("value") * 100),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("y"),
    )
    strata = u.groupBy("score").agg(
        F.sum((F.col("treated") == 0).cast("long")).cast("long").alias("nc"),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sc"),
        F.sum("treated").cast("long").alias("nt"),
    )
    prevw = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # running frame over the reversed (total, score is a group key)
    # order — the literal (currentRow, unboundedFollowing) frame
    # rescans to the end per row, O(strata²) (round 8)
    nextw = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ctl_score = F.when(F.col("nc") > 0, F.col("score"))
    nbr = strata.select(
        "score",
        "nc",
        "sc",
        "nt",
        F.last(ctl_score, ignorenulls=True).over(prevw).alias("prev_c"),
        F.last(ctl_score, ignorenulls=True).over(nextw).alias("next_c"),
    )
    m_score = (
        F.when(F.col("prev_c").isNull(), F.col("next_c"))
        .when(F.col("next_c").isNull(), F.col("prev_c"))
        .when(
            F.col("score") - F.col("prev_c") <= F.col("next_c") - F.col("score"),
            F.col("prev_c"),
        )
        .otherwise(F.col("next_c"))
    )
    match = nbr.filter(F.col("nt") > 0).select(
        "score", m_score.alias("m_score")
    )
    matched = match.join(
        strata.select(
            F.col("score").alias("m_score"),
            F.col("nc").alias("m_nc"),
            F.col("sc").alias("m_sc"),
        ),
        "m_score",
    )
    terms = u.filter(F.col("treated") == 1).join(
        F.broadcast(matched), "score"
    ).select(
        "y",
        F.abs(F.col("score") - F.col("m_score")).alias("gap"),
        round_long(
            (F.col("y") - F.col("m_sc").cast("double") / F.col("m_nc")) * 1e2
        )
        .alias("att_term"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_treated"),
        F.sum("att_term").cast("long").alias("att_sum"),
        F.sum("gap").cast("long").alias("gap_sum"),
        F.sum("y").cast("long").alias("y_sum"),
    )
    ctl = u.agg(
        F.sum((F.col("treated") == 0).cast("long"))
        .cast("long")
        .alias("n_controls")
    )
    return agg.transform(with_scalars, ctl).select(
        "n_treated",
        "n_controls",
        F.round(
            F.col("att_sum").cast("double") / F.col("n_treated") / 1e4, 6
        ).alias("att_dollars"),
        F.round(
            F.col("y_sum").cast("double") / F.col("n_treated") / 100.0, 6
        ).alias("mean_treated_dollars"),
        F.round(F.col("gap_sum").cast("double") / F.col("n_treated"), 6).alias(
            "mean_score_gap"
        ),
    )


# --------------------------------------------------------------------------
# Regression discontinuity: ship-delay jump at an order-value cutoff
# --------------------------------------------------------------------------

_RDD_CUTOFF = 250_000  # dollars, running variable o_totalprice
_RDD_BW = 50_000  # local-linear bandwidth (dollars)


def _rdd_side_sql(name: str, cond: str) -> str:
    return f"""
{name} AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pts WHERE {cond})"""


_RDD_ORACLE = f"""
WITH pts AS (
  SELECT CAST(round(o.o_totalprice) AS BIGINT) - {_RDD_CUTOFF} AS x,
         CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS y
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_totalprice >= {_RDD_CUTOFF - _RDD_BW}
    AND o.o_totalprice < {_RDD_CUTOFF + _RDD_BW}),
{_rdd_side_sql("lft", "x < 0")},
{_rdd_side_sql("rgt", "x >= 0")},
fit AS (
  SELECT l.n AS n_left, r.n AS n_right,
    (CAST(l.sy AS DOUBLE) * l.sxx - CAST(l.sx AS DOUBLE) * l.sxy)
      / (CAST(l.n AS DOUBLE) * l.sxx - CAST(l.sx AS DOUBLE) * l.sx) AS b0_l,
    (CAST(l.n AS DOUBLE) * l.sxy - CAST(l.sx AS DOUBLE) * l.sy)
      / (CAST(l.n AS DOUBLE) * l.sxx - CAST(l.sx AS DOUBLE) * l.sx) AS b1_l,
    (CAST(r.sy AS DOUBLE) * r.sxx - CAST(r.sx AS DOUBLE) * r.sxy)
      / (CAST(r.n AS DOUBLE) * r.sxx - CAST(r.sx AS DOUBLE) * r.sx) AS b0_r,
    (CAST(r.n AS DOUBLE) * r.sxy - CAST(r.sx AS DOUBLE) * r.sy)
      / (CAST(r.n AS DOUBLE) * r.sxx - CAST(r.sx AS DOUBLE) * r.sx) AS b1_r
  FROM lft l CROSS JOIN rgt r)
SELECT CAST({_RDD_CUTOFF} AS BIGINT) AS cutoff_dollars,
       n_left, n_right,
       round(b0_l, 6) AS intercept_left,
       round(b0_r, 6) AS intercept_right,
       round(b0_r - b0_l, 6) AS rdd_effect_days,
       round(b1_l * 1e4, 6) AS slope_left_per_10k,
       round(b1_r * 1e4, 6) AS slope_right_per_10k
FROM fit
"""


@register("rdd_estimate", oracle=_RDD_ORACLE)
def rdd_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate: the jump in mean ship
    delay at the ${c:,} order-value cutoff, from two local-linear fits
    (one each side) inside a ±${bw:,} bandwidth — the boundary-design
    causal estimator completing the observational family
    (cuped_adjustment, diff_in_diff, psm_att).

    Scale shape: one orders⇄lineitem equi-join restricted by a
    bandwidth predicate that pushes to the orders scan, then TWO
    5-counter exact-BIGINT Gram reductions (the A18 pattern,
    operators/regression.py) — x quantized to whole dollars so
    Σx² ≤ 2.5e9 per row holds BIGINT headroom to ~1e9 in-band rows.
    The closed-form intercepts/slopes are identically-shaped IEEE
    doubles evaluated once on the 1-row frame.
    """.format(c=_RDD_CUTOFF, bw=_RDD_BW)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    band = o.filter(
        (F.col("o_totalprice") >= _RDD_CUTOFF - _RDD_BW)
        & (F.col("o_totalprice") < _RDD_CUTOFF + _RDD_BW)
    ).select(
        "o_orderkey",
        "o_orderdate",
        (round_long(F.col("o_totalprice")) - _RDD_CUTOFF).alias("x"),
    )
    pts = li.join(band, li["l_orderkey"] == band["o_orderkey"]).select(
        "x",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("long")
        .alias("y"),
    )

    def side(cond, tag):
        return pts.filter(cond).agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
            F.sum("x").cast("long").alias(f"sx_{tag}"),
            F.sum("y").cast("long").alias(f"sy_{tag}"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias(f"sxx_{tag}"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias(f"sxy_{tag}"),
        )

    lft = side(F.col("x") < 0, "l")
    rgt = side(F.col("x") >= 0, "r")

    def b0(tag):
        n = F.col(f"n_{tag}").cast("double")
        sx = F.col(f"sx_{tag}").cast("double")
        return (
            F.col(f"sy_{tag}").cast("double") * F.col(f"sxx_{tag}")
            - sx * F.col(f"sxy_{tag}")
        ) / (n * F.col(f"sxx_{tag}") - sx * F.col(f"sx_{tag}"))

    def b1(tag):
        n = F.col(f"n_{tag}").cast("double")
        sx = F.col(f"sx_{tag}").cast("double")
        return (
            n * F.col(f"sxy_{tag}") - sx * F.col(f"sy_{tag}")
        ) / (n * F.col(f"sxx_{tag}") - sx * F.col(f"sx_{tag}"))

    return lft.transform(with_scalars, rgt).select(
        F.lit(_RDD_CUTOFF).cast("long").alias("cutoff_dollars"),
        F.col("n_l").alias("n_left"),
        F.col("n_r").alias("n_right"),
        F.round(b0("l"), 6).alias("intercept_left"),
        F.round(b0("r"), 6).alias("intercept_right"),
        F.round(b0("r") - b0("l"), 6).alias("rdd_effect_days"),
        F.round(b1("l") * 1e4, 6).alias("slope_left_per_10k"),
        F.round(b1("r") * 1e4, 6).alias("slope_right_per_10k"),
    )


# --------------------------------------------------------------------------
# Dunn post-hoc pairwise rank test (follows kruskal_wallis)
# --------------------------------------------------------------------------

_DUNN_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
gh AS (
  SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt_g
  FROM v GROUP BY 1, 2),
h AS (
  SELECT cents, CAST(sum(cnt_g) AS BIGINT) AS cnt FROM gh GROUP BY 1),
r2 AS (
  SELECT cents, cnt,
         2 * CAST(coalesce(sum(cnt) OVER (ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           + cnt + 1 AS rank2
  FROM h),
g AS (
  SELECT gh.event_type,
         CAST(sum(gh.cnt_g) AS BIGINT) AS n,
         CAST(sum(gh.cnt_g * r2.rank2) AS BIGINT) AS s2
  FROM gh JOIN r2 ON gh.cents = r2.cents GROUP BY 1),
ties AS (
  SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum FROM h),
t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM g),
vv AS (
  SELECT t.n_tot,
         (CAST(t.n_tot AS DOUBLE) * (t.n_tot + 1) / 12.0
          - CAST(ties.tie_sum AS DOUBLE) / (12.0 * (t.n_tot - 1))) AS var_base
  FROM t CROSS JOIN ties)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       a.n AS n_a, b.n AS n_b,
       round(CAST(a.s2 AS DOUBLE) / (2 * a.n), 6) AS mean_rank_a,
       round(CAST(b.s2 AS DOUBLE) / (2 * b.n), 6) AS mean_rank_b,
       round((CAST(a.s2 AS DOUBLE) / (2 * a.n)
              - CAST(b.s2 AS DOUBLE) / (2 * b.n))
             / sqrt(v.var_base * (1.0 / a.n + 1.0 / b.n)), 6) AS z_stat
FROM g a JOIN g b ON a.event_type < b.event_type CROSS JOIN vv v
"""


@register("dunn_posthoc", oracle=_DUNN_ORACLE)
def dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test: pairwise mean-rank z statistics (with
    the pooled tie-corrected variance N(N+1)/12 − Σ(t³−t)/(12(N−1)))
    for every event-type pair — the rank-based follow-up to
    kruskal_wallis, exactly as tukey_hsd follows one_way_anova.

    Scale shape: identical to kruskal_wallis — midranks and tie sums
    come off the distinct-value histogram as exact 2x-scaled BIGINTs,
    pair math runs on the O(k) group frame with the 1-row variance
    broadcast onto it. No row-scale sort anywhere.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", round_long(F.col("value") * 100).alias("cents")
    )
    gh = v.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_g")
    )
    h = gh.groupBy("cents").agg(F.sum("cnt_g").cast("long").alias("cnt"))
    cw = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    r2 = h.select(
        "cents",
        (
            2 * F.coalesce(F.sum("cnt").over(cw), F.lit(0))
            + F.col("cnt")
            + 1
        )
        .cast("long")
        .alias("rank2"),
    )
    g = (
        gh.join(r2, "cents")
        .groupBy("event_type")
        .agg(
            F.sum("cnt_g").cast("long").alias("n"),
            F.sum(F.col("cnt_g") * F.col("rank2")).cast("long").alias("s2"),
        )
    )
    ties = h.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_sum")
    )
    t = g.agg(F.sum("n").cast("long").alias("n_tot"))
    vv = t.transform(with_scalars, ties).select(
        "n_tot",
        (
            F.col("n_tot").cast("double") * (F.col("n_tot") + 1) / 12.0
            - F.col("tie_sum").cast("double") / (12.0 * (F.col("n_tot") - 1))
        ).alias("var_base"),
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("s2").alias("s2_a"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("s2").alias("s2_b"),
    )
    mra = F.col("s2_a").cast("double") / (2 * F.col("n_a"))
    mrb = F.col("s2_b").cast("double") / (2 * F.col("n_b"))
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .transform(with_scalars, vv)
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.round(mra, 6).alias("mean_rank_a"),
            F.round(mrb, 6).alias("mean_rank_b"),
            F.round(
                (mra - mrb)
                / F.sqrt(
                    F.col("var_base")
                    * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
                ),
                6,
            ).alias("z_stat"),
        )
    )


# --------------------------------------------------------------------------
# Effect-size battery: Cohen's d, Hedges' g, Cliff's delta
# --------------------------------------------------------------------------

_ES_ORACLE = f"""
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('{_GRP_A}', '{_GRP_B}')),
h AS (
  SELECT cents,
         CAST(sum(CASE WHEN event_type = '{_GRP_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = '{_GRP_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM v GROUP BY 1),
cum AS (
  SELECT cents, ca, cb,
         CAST(coalesce(sum(cb) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS b_below,
         CAST(coalesce(sum(cb) OVER (ORDER BY cents DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS b_above
  FROM h),
cliff AS (
  SELECT CAST(sum(ca * b_below) AS BIGINT) AS n_gt,
         CAST(sum(ca * b_above) AS BIGINT) AS n_lt
  FROM cum),
s AS (
  SELECT
    CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(ca * cents) AS BIGINT) AS s1,
    CAST(sum(ca * cents * cents) AS BIGINT) AS ss1,
    CAST(sum(cb) AS BIGINT) AS n2, CAST(sum(cb * cents) AS BIGINT) AS s2,
    CAST(sum(cb * cents * cents) AS BIGINT) AS ss2
  FROM h),
k AS (
  SELECT *,
    (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) AS css1,
    (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) AS css2,
    CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS md
  FROM s)
SELECT n1, n2,
  round(md / sqrt((css1 + css2) / (n1 + n2 - 2)), 6) AS cohens_d,
  round(md / sqrt((css1 + css2) / (n1 + n2 - 2))
        * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g,
  round((CAST(c.n_gt AS DOUBLE) - c.n_lt)
        / (CAST(n1 AS DOUBLE) * n2), 6) AS cliffs_delta
FROM k CROSS JOIN cliff c
"""


@register("effect_sizes", oracle=_ES_ORACLE)
def effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect-size battery for the '{a}' vs '{b}' value comparison:
    Cohen's d (pooled-SD standardized mean difference), Hedges' g
    (small-sample bias correction 1 − 3/(4N−9)), and Cliff's delta
    (the rank dominance statistic P(a>b) − P(a<b)) — the magnitude
    readouts that accompany welch_ttest's significance (a huge N makes
    tiny effects 'significant'; these say whether anyone should care).

    Scale shape: one conditional histogram pass; Cliff's delta counts
    come from EXACT cross-tabulated cumsums on the distinct-value
    frame (Σ ca·cb_below — no pairwise join), and the moment effect
    sizes reuse the exact BIGINT power sums. All doubles evaluate
    once on the final 1-row frame.
    """.format(a=_GRP_A, b=_GRP_B)
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type").isin(_GRP_A, _GRP_B)).select(
        "event_type", round_long(F.col("value") * 100).alias("cents")
    )
    h = v.groupBy("cents").agg(
        F.sum((F.col("event_type") == _GRP_A).cast("long"))
        .cast("long")
        .alias("ca"),
        F.sum((F.col("event_type") == _GRP_B).cast("long"))
        .cast("long")
        .alias("cb"),
    )
    up = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    dn = Window.orderBy(F.desc("cents")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = h.select(
        "cents",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(up), F.lit(0)).cast("long").alias(
            "b_below"
        ),
        F.coalesce(F.sum("cb").over(dn), F.lit(0)).cast("long").alias(
            "b_above"
        ),
    )
    cliff = cum.agg(
        F.sum(F.col("ca") * F.col("b_below")).cast("long").alias("n_gt"),
        F.sum(F.col("ca") * F.col("b_above")).cast("long").alias("n_lt"),
    )
    s = h.agg(
        F.sum("ca").cast("long").alias("n1"),
        F.sum(F.col("ca") * F.col("cents")).cast("long").alias("s1"),
        F.sum(F.col("ca") * F.col("cents") * F.col("cents"))
        .cast("long")
        .alias("ss1"),
        F.sum("cb").cast("long").alias("n2"),
        F.sum(F.col("cb") * F.col("cents")).cast("long").alias("s2"),
        F.sum(F.col("cb") * F.col("cents") * F.col("cents"))
        .cast("long")
        .alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    # degenerate-arm guards (round-7 tiny fuzz): an empty arm, a
    # two-observation comparison (n1 + n2 <= 2), or a zero pooled SD
    # leaves the effect size undefined — NULL on both engines (the
    # oracle's divisions by zero are NULL-valued in DuckDB)
    css1 = F.when(
        n1 > 0,
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / n1,
    )
    css2 = F.when(
        n2 > 0,
        F.col("ss2").cast("double")
        - F.col("s2").cast("double") * F.col("s2") / n2,
    )
    md = F.when(
        (n1 > 0) & (n2 > 0),
        F.col("s1").cast("double") / n1 - F.col("s2").cast("double") / n2,
    )
    pv = F.when(n1 + n2 > 2, (css1 + css2) / (n1 + n2 - 2))
    d = F.when(pv != 0, md / F.sqrt(pv))
    return s.transform(with_scalars, cliff).select(
        "n1",
        "n2",
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6).alias(
            "hedges_g"
        ),
        F.round(
            F.when(
                (n1 > 0) & (n2 > 0),
                (F.col("n_gt").cast("double") - F.col("n_lt"))
                / (n1.cast("double") * n2),
            ),
            6,
        ).alias("cliffs_delta"),
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily up/down sequence
# --------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1),
mv AS (
  SELECT day, cents,
         cents - lag(cents) OVER (ORDER BY day) AS diff
  FROM daily),
signs AS (
  SELECT day, CASE WHEN diff > 0 THEN 1 ELSE 0 END AS up,
         CASE WHEN diff > 0 THEN 1 ELSE 0 END
           <> lag(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
              OVER (ORDER BY day) AS flip
  FROM mv WHERE diff IS NOT NULL AND diff <> 0),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(up) AS BIGINT) AS n_up,
         CAST(count(*) - sum(up) AS BIGINT) AS n_down,
         CAST(1 + sum(CASE WHEN flip THEN 1 ELSE 0 END) AS BIGINT) AS runs
  FROM signs),
k AS (
  SELECT *,
    1.0 + 2.0 * n_up * n_down / n AS mu,
    (2.0 * n_up * n_down) * (2.0 * n_up * n_down - n)
      / (CAST(n AS DOUBLE) * n * (n - 1)) AS var
  FROM s)
SELECT n, n_up, n_down, runs,
  round(mu, 6) AS expected_runs,
  round((runs - mu) / sqrt(var), 6) AS z_stat
FROM k
"""


@register("runs_test", oracle=_RUNS_ORACLE)
def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily
    total-value direction sequence (up/down, zero-diffs dropped):
    observed runs vs E[R] = 1 + 2·n₊n₋/n and the normal z — the
    'is this series trending or mean-reverting beyond chance'
    screen that complements mann_kendall_trend (monotone trend) and
    hurst_exponent (long memory).

    Scale shape: one map-side-combinable daily sum in exact integer
    cents; diffs, signs, flips and the run count are window ops on
    the O(days) frame. Counts are exact BIGINTs; mu/var/z evaluate
    once on the 1-row reduce.
    """
    signs = _daily_moves(load_table(spark, sf_dir, "events"))
    flips = signs.select(
        "up",
        (F.col("up") != F.lag("up").over(Window.orderBy("day")))
        .alias("flip"),
    )
    s = flips.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("up").cast("long").alias("n_up"),
        (F.count(F.lit(1)) - F.sum("up")).cast("long").alias("n_down"),
        # coalesce: the first row's lag-NULL flip must count 0 even
        # when it is the ONLY row (round-7 tiny fuzz), matching the
        # oracle's CASE WHEN flip THEN 1 ELSE 0
        (1 + F.sum(F.coalesce(F.col("flip"), F.lit(False)).cast("long")))
        .cast("long")
        .alias("runs"),
    )
    n, nu, nd = F.col("n"), F.col("n_up"), F.col("n_down")
    # degenerate-series guards (round-7 tiny fuzz): a single sign
    # (n = 1) leaves the run variance undefined, and an all-up or
    # all-down sequence gives var = 0 — NULL mu/z on both engines
    # (the oracle's divisions by zero are NULL-valued in DuckDB)
    mu = F.when(n > 0, 1.0 + 2.0 * nu * nd / n)
    var = F.when(
        n > 1,
        (2.0 * nu * nd)
        * (2.0 * nu * nd - n)
        / (n.cast("double") * n * (n - 1)),
    )
    return s.select(
        "n",
        "n_up",
        "n_down",
        "runs",
        F.round(mu, 6).alias("expected_runs"),
        F.round(
            F.when(var != 0, (F.col("runs") - mu) / F.sqrt(var)), 6
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Negative-binomial overdispersion fit of per-user event counts
# --------------------------------------------------------------------------

_NB_ORACLE = """
WITH deg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS d FROM events GROUP BY 1),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d) AS BIGINT) AS sx,
         CAST(sum(d * d) AS BIGINT) AS sxx
  FROM deg),
k AS (
  SELECT n,
    CAST(sx AS DOUBLE) / n AS m,
    CASE WHEN n > 1
         THEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
         END AS v
  FROM s)
SELECT n AS n_users,
  round(m, 6) AS mean_count,
  round(v, 6) AS var_count,
  round(v / m, 6) AS dispersion_index,
  round(CASE WHEN v > m THEN m * m / (v - m) END, 6) AS nb_r,
  round(CASE WHEN v > m THEN m / v END, 6) AS nb_p
FROM k
"""


@register("negbin_fit", oracle=_NB_ORACLE)
def negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit to the per-user event
    counts: dispersion index v/m (Poisson ⇒ 1), and when
    overdispersed the NB parameters r = m²/(v−m), p = m/v — the
    count-model diagnostic behind eb_rate_shrinkage's beta-binomial
    (is activity Poisson, or heavy enough to need the extra tail
    parameter?).

    Scale shape: per-user counts, then a single 3-counter exact
    BIGINT reduce; doubles evaluate once on the final row. The NB
    columns are NULL (both engines) under equidispersion.
    """
    e = load_table(spark, sf_dir, "events")
    deg = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("d"))
    s = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
    )
    n = F.col("n")
    m = F.col("sx").cast("double") / n
    # n = 1 (single user — round-7 one_ticker fuzz): variance undefined
    # -> NULL v and NULL-propagated NB columns on both engines
    v = F.when(
        n > 1,
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / n
        )
        / (n - 1),
    )
    return s.select(
        n.alias("n_users"),
        F.round(m, 6).alias("mean_count"),
        F.round(v, 6).alias("var_count"),
        F.round(v / m, 6).alias("dispersion_index"),
        F.round(F.when(v > m, m * m / (v - m)), 6).alias("nb_r"),
        F.round(F.when(v > m, m / v), 6).alias("nb_p"),
    )


# --------------------------------------------------------------------------
# McNemar paired test: purchase behavior first half vs second half
# --------------------------------------------------------------------------

_MCN_THR = 150  # big-ticket purchase threshold (dollars)

_MCNEMAR_ORACLE = f"""
WITH bounds AS (
  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
         CAST(max(epoch_us(ts)) AS BIGINT) AS hi
  FROM events),
u AS (
  SELECT e.user_id,
         CAST(max(CASE WHEN epoch_us(e.ts) * 2 < b.lo + b.hi
                        AND e.event_type = 'purchase'
                        AND e.value > {_MCN_THR}
                       THEN 1 ELSE 0 END) AS BIGINT) AS p1,
         CAST(max(CASE WHEN epoch_us(e.ts) * 2 >= b.lo + b.hi
                        AND e.event_type = 'purchase'
                        AND e.value > {_MCN_THR}
                       THEN 1 ELSE 0 END) AS BIGINT) AS p2
  FROM events e CROSS JOIN bounds b
  GROUP BY 1),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(p1 * p2) AS BIGINT) AS both_halves,
         CAST(sum(p1 * (1 - p2)) AS BIGINT) AS b,
         CAST(sum((1 - p1) * p2) AS BIGINT) AS c,
         CAST(sum((1 - p1) * (1 - p2)) AS BIGINT) AS neither
  FROM u)
SELECT n, both_halves, b AS only_first, c AS only_second, neither,
  round(CASE WHEN b + c > 0
        THEN CAST((b - c) * (b - c) AS DOUBLE) / (b + c) END, 6) AS chi2,
  round(CASE WHEN b + c > 0
        THEN (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c) END, 6)
    AS chi2_corrected
FROM s
"""


@register("mcnemar_test", oracle=_MCNEMAR_ORACLE)
def mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary outcomes: did each user's
    big-ticket purchase behavior (any purchase > $150: yes/no)
    CHANGE between the first
    and second half of the observation window? χ² = (b−c)²/(b+c) over
    the discordant cells, with the Edwards continuity correction —
    the paired sibling of two_proportion_ztest (which wrongly treats
    the halves as independent samples of different users).

    Scale shape: one 2-counter bounds reduce broadcast back, one
    map-side-combinable per-user presence aggregate, one 5-counter
    reduce; the half split compares exact integer microseconds
    (epoch·2 vs lo+hi).
    """
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    bounds = e.agg(
        F.min(us).cast("long").alias("lo"), F.max(us).cast("long").alias("hi")
    )
    is_p = (F.col("event_type") == "purchase") & (F.col("value") > _MCN_THR)
    first = (us * 2 < F.col("lo") + F.col("hi")) & is_p
    second = (us * 2 >= F.col("lo") + F.col("hi")) & is_p
    u = (
        e.transform(with_scalars, bounds)
        .groupBy("user_id")
        .agg(
            F.max(first.cast("long")).cast("long").alias("p1"),
            F.max(second.cast("long")).cast("long").alias("p2"),
        )
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("p1") * F.col("p2")).cast("long").alias("both_halves"),
        F.sum(F.col("p1") * (1 - F.col("p2"))).cast("long").alias("b"),
        F.sum((1 - F.col("p1")) * F.col("p2")).cast("long").alias("c"),
        F.sum((1 - F.col("p1")) * (1 - F.col("p2")))
        .cast("long")
        .alias("neither"),
    )
    b, c = F.col("b"), F.col("c")
    # zero discordant pairs (round-7 one_ticker fuzz: one user can
    # never disagree with itself): the test is undefined -> NULL chi2
    # on both engines instead of an ANSI divide-by-zero
    disc = b + c > 0
    return s.select(
        "n",
        "both_halves",
        b.alias("only_first"),
        c.alias("only_second"),
        "neither",
        F.round(
            F.when(disc, ((b - c) * (b - c)).cast("double") / (b + c)), 6
        ).alias("chi2"),
        F.round(
            F.when(disc, (F.abs(b - c) - 1.0) * (F.abs(b - c) - 1.0) / (b + c)),
            6,
        ).alias("chi2_corrected"),
    )


# --------------------------------------------------------------------------
# Cumulative gains / lift table for the propensity score
# --------------------------------------------------------------------------

_GAINS_BINS = 10

_GAINS_ORACLE = f"""
WITH hist AS (
  SELECT user_id, count(*) AS n_ev,
         count(*) FILTER (event_type = 'purchase') AS n_p
  FROM events WHERE ts < TIMESTAMP '{_CAL_SPLIT}'
  GROUP BY 1),
fut AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '{_CAL_SPLIT}' AND event_type = 'purchase'),
scored AS (
  SELECT h.user_id, (h.n_p * 1000000) // h.n_ev AS s_micro,
         CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS y
  FROM hist h LEFT JOIN fut f ON h.user_id = f.user_id),
ranked AS (
  SELECT s_micro, y,
         row_number() OVER (ORDER BY s_micro DESC, user_id) AS rk,
         count(*) OVER () AS n,
         sum(y) OVER () AS pos
  FROM scored),
dec AS (
  SELECT ({_GAINS_BINS} * (rk - 1)) // n AS decile, y, n, pos
  FROM ranked),
g AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(any_value(n) AS BIGINT) AS n,
         CAST(any_value(pos) AS BIGINT) AS pos
  FROM dec GROUP BY 1),
cum AS (
  SELECT decile, n_users, n_pos, n, pos,
         CAST(sum(n_users) OVER w AS BIGINT) AS cum_n,
         CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos
  FROM g WINDOW w AS (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT CAST(decile AS BIGINT) AS decile, n_users, n_pos,
  round(CAST(cum_pos AS DOUBLE) / pos, 6) AS gain,
  round((CAST(cum_pos AS DOUBLE) / cum_n)
        / (CAST(pos AS DOUBLE) / n), 6) AS cum_lift
FROM cum
"""


@register("cumulative_gains", oracle=_GAINS_ORACLE)
def cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table for the first-half propensity
    score against second-half purchase conversion: per score decile
    (ties broken by user_id, exact integer decile = 10(rk−1) div n),
    the share of all converters captured so far (gains) and the
    cumulative lift over the base rate — the campaign-targeting
    readout beside calibration_bins (calibration) and roc_auc
    (discrimination): 'how much better than random is mailing the
    top k deciles?'.

    Scale shape: the facts reduce to one row per user; the per-user
    rank is a bucketed two-pass row number (functions/ranks.py — every
    window partitioned by rank bucket) with the frame size and
    converter total injected as one merged scalar subquery, so no
    unpartitioned window ever sees the O(users) frame; everything
    after is O(deciles).
    """
    from dissertation_iceberg_spark.functions.ranks import (
        _idiv,
        bucketed_row_number,
    )
    scored = _holdout_scores(load_table(spark, sf_dir, "events"))
    totals = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    n = totals.select("n").scalar()
    pos = totals.select("pos").scalar()
    ranked = bucketed_row_number(
        scored.withColumn("__neg_s", -F.col("s_micro")),
        ["__neg_s", "user_id"],
        out_col="rk",
    )
    dec = ranked.select(
        _idiv(F.lit(_GAINS_BINS) * (F.col("rk") - 1), n).alias("decile"),
        "y",
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    cw = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "decile",
        "n_users",
        "n_pos",
        F.sum("n_users").over(cw).cast("long").alias("cum_n"),
        F.sum("n_pos").over(cw).cast("long").alias("cum_pos"),
    )
    return cum.select(
        F.col("decile").cast("long").alias("decile"),
        "n_users",
        "n_pos",
        F.round(F.col("cum_pos").cast("double") / pos, 6).alias("gain"),
        F.round(
            (F.col("cum_pos").cast("double") / F.col("cum_n"))
            / (pos.cast("double") / n),
            6,
        ).alias("cum_lift"),
    )


# --------------------------------------------------------------------------
# Multivariate drift: KS test on a deterministic embedding projection
# --------------------------------------------------------------------------

_PKS_LA = 0  # compare embedding distributions of these two labels
_PKS_LB = 1
_PKS_DIM = 64


def _pks_weights() -> list[int]:
    from dissertation_iceberg_spark.operators.similarity import (
        lsh_plane_weights,
    )

    return lsh_plane_weights(tbl=0, plane=0, dim=_PKS_DIM)


def _pks_oracle() -> str:
    w = _pks_weights()
    terms = " + ".join(
        f"CAST(round(embedding[{d + 1}] * 1e6) AS BIGINT) * ({w[d]})"
        for d in range(_PKS_DIM)
    )
    return f"""
WITH proj AS (
  SELECT label, {terms} AS p
  FROM embeddings WHERE label IN ({_PKS_LA}, {_PKS_LB})),
h AS (
  SELECT p,
         CAST(sum(CASE WHEN label = {_PKS_LA} THEN 1 ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(sum(CASE WHEN label = {_PKS_LB} THEN 1 ELSE 0 END) AS BIGINT)
           AS cb
  FROM proj GROUP BY 1),
cum AS (
  SELECT CAST(sum(ca) OVER w AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER w AS BIGINT) AS cum_b,
         CAST(sum(ca) OVER () AS BIGINT) AS n_a,
         CAST(sum(cb) OVER () AS BIGINT) AS n_b
  FROM h WINDOW w AS (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)),
k AS (
  SELECT CAST(any_value(n_a) AS BIGINT) AS n_a,
         CAST(any_value(n_b) AS BIGINT) AS n_b,
         CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num
  FROM cum)
SELECT n_a, n_b,
  round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b), 6) AS d_stat,
  round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
        * sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)), 6) AS ks_lambda
FROM k
"""


@register("projection_ks_drift", oracle=_pks_oracle())
def projection_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate embedding-drift check: project both label-{a} and
    label-{b} embedding clouds onto ONE deterministic integer
    hyperplane (the LSH plane family) and run an exact two-sample KS
    on the projections — the cheap first screen for 'did the
    embedding distribution move' that psi_drift (binned, scalar) and
    label_centroid_drift (means only) cannot answer for shape changes.

    Determinism and scale: the projection Σ round(x·1e6)·w is an
    exact BIGINT fold per vector (no float dot product), the KS D
    statistic is the exact integer max |c_a·n_b − c_b·n_a| over the
    distinct-projection histogram cumsum — no row-scale sort, one
    map-side-combinable histogram pass, everything after on the
    O(distinct projections) frame.
    """.format(a=_PKS_LA, b=_PKS_LB)
    from dissertation_iceberg_spark.operators.similarity import int_dot

    w = _pks_weights()
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isin(_PKS_LA, _PKS_LB)
    )
    xq = F.transform(
        F.col("embedding"), lambda x: round_long(x * 1e6)
    )
    wlit = F.array(*[F.lit(v).cast("long") for v in w])
    proj = e.select(
        "label",
        int_dot(xq, wlit).alias("p"),
    )
    h = proj.groupBy("p").agg(
        F.sum((F.col("label") == _PKS_LA).cast("long"))
        .cast("long")
        .alias("ca"),
        F.sum((F.col("label") == _PKS_LB).cast("long"))
        .cast("long")
        .alias("cb"),
    )
    cw = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = h.select(
        F.sum("ca").over(cw).cast("long").alias("cum_a"),
        F.sum("cb").over(cw).cast("long").alias("cum_b"),
        F.sum("ca").over(wall).cast("long").alias("n_a"),
        F.sum("cb").over(wall).cast("long").alias("n_b"),
    )
    k = cum.agg(
        F.any_value("n_a").cast("long").alias("n_a"),
        F.any_value("n_b").cast("long").alias("n_b"),
        F.max(
            F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
        )
        .cast("long")
        .alias("d_num"),
    )
    # empty-sample guard (round-7 tiny fuzz): either label absent
    # leaves the KS statistic undefined — NULL on both engines
    # (DuckDB's division by zero is NULL-valued)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    d = F.when(
        ok,
        F.col("d_num").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b")),
    )
    return k.select(
        "n_a",
        "n_b",
        F.round(d, 6).alias("d_stat"),
        F.round(
            d
            * F.sqrt(
                F.col("n_a").cast("double")
                * F.col("n_b")
                / (F.col("n_a") + F.col("n_b"))
            ),
            6,
        ).alias("ks_lambda"),
    )


# --------------------------------------------------------------------------
# Learning curve: stump accuracy vs deterministic training-set size
# --------------------------------------------------------------------------

_LC_FRACS = (8, 24, 80)  # hash-percent cutoffs inside the 80% train pool
_LC_HOLDOUT = 80  # hash % 100 >= 80 -> held-out eval slice


def _lc_round_sql(cut: int) -> str:
    return f"""
tr{cut} AS (SELECT cents, pos FROM base WHERE h < {cut}),
dv{cut} AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM tr{cut} GROUP BY 1),
tot{cut} AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_all, CAST(sum(n_pos) AS BIGINT) AS p_all
  FROM dv{cut}),
cum{cut} AS (
  SELECT cents,
         CAST(sum(n) OVER w AS BIGINT) AS cn,
         CAST(sum(n_pos) OVER w AS BIGINT) AS cp
  FROM dv{cut}
  WINDOW w AS (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
best{cut} AS (
  SELECT cents AS thr, cn AS n_l, cp AS p_l,
         n_all - cn AS n_r, p_all - cp AS p_r,
         (2.0 * cp * (cn - cp) / cn
          + 2.0 * (p_all - cp) * ((n_all - cn) - (p_all - cp))
            / (n_all - cn)) / n_all AS gini
  FROM cum{cut} CROSS JOIN tot{cut}
  WHERE n_all - cn > 0
  ORDER BY gini ASC, thr ASC LIMIT 1),
eval{cut} AS (
  SELECT CAST({cut} AS BIGINT) AS cut,
         (SELECT n_all FROM tot{cut}) AS n_train,
         b.thr,
         CAST(round(b.gini * 1e6) AS BIGINT) / 1e6 AS train_gini,
         CAST(sum(CASE WHEN (CASE WHEN ho.cents <= b.thr
                             THEN 2 * b.p_l >= b.n_l
                             ELSE 2 * b.p_r >= b.n_r END) = (ho.pos = 1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(count(*) AS BIGINT) AS n_holdout
  FROM holdout ho CROSS JOIN best{cut} b
  GROUP BY 1, 2, 3, 4)"""


from dissertation_iceberg_spark.functions.hashing import hash60_sql

_LC_ORACLE = (
    f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
         {hash60_sql("CAST(o_orderkey AS VARCHAR)")} % 100 AS h
  FROM orders),
holdout AS (SELECT cents, pos FROM base WHERE h >= {_LC_HOLDOUT}),"""
    + ",".join(_lc_round_sql(c) for c in _LC_FRACS)
    + """
SELECT cut, n_train, thr AS threshold_cents, train_gini,
       n_correct, n_holdout,
       round(CAST(n_correct AS DOUBLE) / n_holdout, 6) AS holdout_acc
FROM (SELECT * FROM eval8 UNION ALL SELECT * FROM eval24
      UNION ALL SELECT * FROM eval80) u
"""
)


@register("learning_curve", oracle=_LC_ORACLE)
def learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve: exact greedy decision-stump accuracy as a
    function of training-set size. Deterministic md5-hash slices of
    orders form nested 10%/30%/100% training subsets of an 80% pool
    (holdout = the other 20%); each subset trains a Gini-optimal
    stump on order value vs the fulfilled label and is scored on the
    SAME holdout — the sample-efficiency readout ('is more data still
    buying accuracy?') that decides whether a 100 TB pipeline keeps
    all its labels or downsamples.

    Scale shape: the stump search per subset is the decision_stump
    histogram machinery (distinct-value cumsums, no row-scale sort);
    subsets nest by hash cutoffs so ONE hashed scan feeds all three;
    evaluation is one conditional count over the holdout with the
    1-row split broadcast.
    """
    from dissertation_iceberg_spark.functions.hashing import hash60

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        round_long(F.col("o_totalprice") * 100).alias("cents"),
        (F.col("o_orderstatus") == "F").cast("long").alias("pos"),
        (hash60(F.col("o_orderkey").cast("string")) % 100).alias("h"),
    )
    holdout = base.filter(F.col("h") >= _LC_HOLDOUT).select("cents", "pos")
    outs = []
    for cut in _LC_FRACS:
        tr = base.filter(F.col("h") < cut)
        dv = tr.groupBy("cents").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
        tot = dv.agg(
            F.sum("n").cast("long").alias("n_all"),
            F.sum("n_pos").cast("long").alias("p_all"),
        )
        cw = Window.orderBy("cents").rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = dv.select(
            "cents",
            F.sum("n").over(cw).cast("long").alias("cn"),
            F.sum("n_pos").over(cw).cast("long").alias("cp"),
        )
        cn, cp = F.col("cn"), F.col("cp")
        na, pa = F.col("n_all"), F.col("p_all")
        gini = (
            2.0 * cp * (cn - cp) / cn
            + 2.0 * (pa - cp) * ((na - cn) - (pa - cp)) / (na - cn)
        ) / na
        best = (
            cum.transform(bcast_params, tot)
            .filter(na - cn > 0)
            .select(
                F.col("cents").alias("thr"),
                cn.alias("n_l"),
                cp.alias("p_l"),
                (na - cn).alias("n_r"),
                (pa - cp).alias("p_r"),
                gini.alias("gini"),
                na.alias("n_train"),
            )
            .orderBy(F.asc("gini"), F.asc("thr"))
            .limit(1)
        )
        pred_pos = F.when(
            F.col("cents") <= F.col("thr"),
            2 * F.col("p_l") >= F.col("n_l"),
        ).otherwise(2 * F.col("p_r") >= F.col("n_r"))
        ev = holdout.transform(bcast_params, best).agg(
            F.any_value("n_train").cast("long").alias("n_train"),
            F.any_value("thr").cast("long").alias("threshold_cents"),
            (F.round(F.any_value("gini") * 1e6).cast("long") / 1e6).alias(
                "train_gini"
            ),
            F.sum((pred_pos == (F.col("pos") == 1)).cast("long"))
            .cast("long")
            .alias("n_correct"),
            F.count(F.lit(1)).cast("long").alias("n_holdout"),
        )
        outs.append(
            ev.select(
                F.lit(cut).cast("long").alias("cut"),
                "n_train",
                "threshold_cents",
                "train_gini",
                "n_correct",
                "n_holdout",
                F.round(
                    F.col("n_correct").cast("double") / F.col("n_holdout"), 6
                ).alias("holdout_acc"),
            )
        )
    out = outs[0]
    for o2 in outs[1:]:
        out = out.unionByName(o2)
    return out


# --------------------------------------------------------------------------
# Group-sequential A/B monitor with O'Brien-Fleming boundaries
# --------------------------------------------------------------------------

_GS_LOOKS = 5
# two-sided alpha=.05, K=5 equally-spaced looks: z_k = C_OF * sqrt(K/k),
# C_OF = 2.0401 (Lan-DeMets O'Brien-Fleming approximation) — literal so
# no quantile function exists at runtime in either engine
_GS_C = "2.0401e0"

_GS_ORACLE = f"""
WITH bounds AS (
  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
         CAST(max(epoch_us(ts)) AS BIGINT) + 1 AS hi
  FROM events),
looks AS (
  SELECT CAST(k AS BIGINT) AS look, b.lo, b.hi,
         b.lo + (b.hi - b.lo) * k / {_GS_LOOKS} AS cut_us
  FROM generate_series(1, {_GS_LOOKS}) AS g(k) CROSS JOIN bounds b),
u AS (
  SELECT l.look, e.user_id % 2 AS arm,
         max(CASE WHEN e.event_type = 'purchase' AND e.value > {_MCN_THR}
                  THEN 1 ELSE 0 END) AS conv
  FROM events e JOIN looks l ON epoch_us(e.ts) < l.cut_us
  GROUP BY 1, 2, e.user_id),
s AS (
  SELECT look,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_t,
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_c
  FROM u GROUP BY 1),
z AS (
  SELECT look, n_t, c_t, n_c, c_c,
    CASE WHEN c_t + c_c > 0 AND c_t + c_c < n_t + n_c THEN
      (CAST(c_t AS DOUBLE) / n_t - CAST(c_c AS DOUBLE) / n_c)
        / sqrt((CAST(c_t + c_c AS DOUBLE) / (n_t + n_c))
               * (1.0 - CAST(c_t + c_c AS DOUBLE) / (n_t + n_c))
               * (1.0 / n_t + 1.0 / n_c))
    END AS z_stat
  FROM s)
SELECT look, n_t, c_t, n_c, c_c,
  round(z_stat, 6) AS z_stat,
  round(CAST('{_GS_C}' AS DOUBLE)
        * sqrt(CAST({_GS_LOOKS} AS DOUBLE) / look), 6) AS obf_bound,
  CAST(coalesce(abs(z_stat) > CAST('{_GS_C}' AS DOUBLE)
       * sqrt(CAST({_GS_LOOKS} AS DOUBLE) / look), FALSE) AS BIGINT)
    AS crossed
FROM z
"""


@register("group_sequential_monitor", oracle=_GS_ORACLE)
def group_sequential_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitor: at {k} equally-spaced calendar
    looks, the cumulative big-ticket-conversion (purchase > $150) two-proportion
    z between deterministic arms (user_id parity) against the O'Brien-Fleming spending boundary
    z_k = C·√(K/k) — the 'peek safely' machinery that replaces the
    fixed-horizon two_proportion_ztest when the experimenter reads
    results weekly (naive repeated peeking inflates false positives
    ~3×; OBF spends almost no alpha early).

    Determinism and scale: look cutoffs are exact integer-microsecond
    interpolations of the global bounds; per-look per-user conversion
    reduces map-side (the look⇄event join fans each event to ≤{k}
    look rows — bounded small-multiplier, not a shuffle explosion);
    the boundary constant is a shared literal so no quantile function
    runs in either engine.
    """.format(k=_GS_LOOKS)
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    bounds = e.agg(
        F.min(us).cast("long").alias("lo"),
        (F.max(us) + 1).cast("long").alias("hi"),
    )
    looks = (
        spark.range(1, _GS_LOOKS + 1)
        .select(F.col("id").cast("long").alias("look"))
        .transform(with_scalars, bounds)
        .select(
            "look",
            (
                F.col("lo")
                + (F.col("hi") - F.col("lo")) * F.col("look") / _GS_LOOKS
            ).alias("cut_us"),
        )
    )
    u = (
        e.select("user_id", "event_type", "value", us.alias("ts_us"))
        .transform(explode_grid, looks).filter(F.col("ts_us") < F.col("cut_us"))
        .groupBy("look", (F.col("user_id") % 2).alias("arm"), "user_id")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > _MCN_THR)
                ).cast("long")
            ).alias("conv")
        )
    )
    s = u.groupBy("look").agg(
        F.sum((F.col("arm") == 1).cast("long")).cast("long").alias("n_t"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_t"),
        F.sum((F.col("arm") == 0).cast("long")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_c"),
    )
    p_pool = (F.col("c_t") + F.col("c_c")).cast("double") / (
        F.col("n_t") + F.col("n_c")
    )
    conv_tot = F.col("c_t") + F.col("c_c")
    n_tot = F.col("n_t") + F.col("n_c")
    z = F.when(
        (conv_tot > 0) & (conv_tot < n_tot),
        (
            F.col("c_t").cast("double") / F.col("n_t")
            - F.col("c_c").cast("double") / F.col("n_c")
        )
        / F.sqrt(
            p_pool * (1.0 - p_pool) * (1.0 / F.col("n_t") + 1.0 / F.col("n_c"))
        ),
    )
    bound = F.expr(f"CAST('{_GS_C}' AS DOUBLE)") * F.sqrt(
        F.lit(float(_GS_LOOKS)) / F.col("look")
    )
    return s.select(
        "look",
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        F.round(z, 6).alias("z_stat"),
        F.round(bound, 6).alias("obf_bound"),
        F.coalesce(F.abs(z) > bound, F.lit(False)).cast("long").alias(
            "crossed"
        ),
    )


# --------------------------------------------------------------------------
# Qini uplift curve: per-decile treatment uplift under parity arms
# --------------------------------------------------------------------------

_QINI_ORACLE = f"""
WITH hist AS (
  SELECT user_id, count(*) AS n_ev,
         count(*) FILTER (event_type = 'purchase') AS n_p
  FROM events WHERE ts < TIMESTAMP '{_CAL_SPLIT}'
  GROUP BY 1),
fut AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '{_CAL_SPLIT}' AND event_type = 'purchase'
    AND value > {_MCN_THR}),
scored AS (
  SELECT h.user_id, (h.n_p * 1000000) // h.n_ev AS s_micro,
         h.user_id % 2 AS arm,
         CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS y
  FROM hist h LEFT JOIN fut f ON h.user_id = f.user_id),
ranked AS (
  SELECT s_micro, arm, y,
         row_number() OVER (ORDER BY s_micro DESC, user_id) AS rk,
         count(*) OVER () AS n
  FROM scored),
dec AS (
  SELECT ({_GAINS_BINS} * (rk - 1)) // n AS decile, arm, y FROM ranked),
g AS (
  SELECT decile,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS c_t,
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS c_c
  FROM dec GROUP BY 1),
cum AS (
  SELECT decile, n_t, c_t, n_c, c_c,
    CAST(sum(n_t) OVER w AS BIGINT) AS cn_t,
    CAST(sum(c_t) OVER w AS BIGINT) AS cc_t,
    CAST(sum(n_c) OVER w AS BIGINT) AS cn_c,
    CAST(sum(c_c) OVER w AS BIGINT) AS cc_c
  FROM g WINDOW w AS (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT CAST(decile AS BIGINT) AS decile, n_t, c_t, n_c, c_c,
  round(CASE WHEN n_t > 0 AND n_c > 0
        THEN CAST(c_t AS DOUBLE) / n_t - CAST(c_c AS DOUBLE) / n_c END, 6)
    AS uplift,
  round(CASE WHEN cn_c > 0
        THEN cc_t - CAST(cc_c AS DOUBLE) * cn_t / cn_c END, 6)
    AS qini_value
FROM cum
"""


@register("qini_uplift", oracle=_QINI_ORACLE)
def qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve: users ranked by the first-half propensity
    score, split into deciles, each decile reporting the incremental
    big-ticket conversion of the treated arm (user_id parity) over
    control — uplift per decile plus the cumulative Qini value
    cc_t − cc_c·(cn_t/cn_c) — the incrementality readout (does
    targeting by score capture users the treatment actually MOVES,
    not just likely converters) that extends cumulative_gains from
    response to uplift modeling.

    Scale shape: same as cumulative_gains — facts reduce to one row
    per user, then a bucketed two-pass row number (functions/ranks.py,
    every window partitioned by rank bucket) with the frame size as a
    scalar subquery, O(deciles) afterwards; arm splits are conditional
    sums. Doubles only in the two final per-decile readouts.
    """
    from dissertation_iceberg_spark.functions.ranks import (
        _idiv,
        bucketed_row_number,
    )
    scored = _holdout_scores(
        load_table(spark, sf_dir, "events"), _MCN_THR
    ).select("user_id", "s_micro", (F.col("user_id") % 2).alias("arm"), "y")
    n = scored.agg(F.count(F.lit(1)).cast("long").alias("n")).scalar()
    ranked = bucketed_row_number(
        scored.withColumn("__neg_s", -F.col("s_micro")),
        ["__neg_s", "user_id"],
        out_col="rk",
    )
    dec = ranked.select(
        _idiv(F.lit(_GAINS_BINS) * (F.col("rk") - 1), n).alias("decile"),
        "arm",
        "y",
    )
    g = dec.groupBy("decile").agg(
        F.sum((F.col("arm") == 1).cast("long")).cast("long").alias("n_t"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("c_t"),
        F.sum((F.col("arm") == 0).cast("long")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("c_c"),
    )
    cw = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "decile",
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        F.sum("n_t").over(cw).cast("long").alias("cn_t"),
        F.sum("c_t").over(cw).cast("long").alias("cc_t"),
        F.sum("n_c").over(cw).cast("long").alias("cn_c"),
        F.sum("c_c").over(cw).cast("long").alias("cc_c"),
    )
    return cum.select(
        F.col("decile").cast("long").alias("decile"),
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        F.round(
            F.when(
                (F.col("n_t") > 0) & (F.col("n_c") > 0),
                F.col("c_t").cast("double") / F.col("n_t")
                - F.col("c_c").cast("double") / F.col("n_c"),
            ),
            6,
        ).alias("uplift"),
        F.round(
            F.when(
                F.col("cn_c") > 0,
                F.col("cc_t")
                - F.col("cc_c").cast("double") * F.col("cn_t") / F.col("cn_c"),
            ),
            6,
        ).alias("qini_value"),
    )


# --------------------------------------------------------------------------
# Log-rank test: do the two arms' time-to-purchase curves differ?
# --------------------------------------------------------------------------

_LOGRANK_ORACLE = """
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
    min(date_trunc('day', ts)) AS t0,
    min(CASE WHEN event_type = 'purchase' THEN date_trunc('day', ts) END)
      AS tp,
    max(date_trunc('day', ts)) AS tend
  FROM events GROUP BY 1, 2),
dur AS (
  SELECT arm, date_diff('day', t0, coalesce(tp, tend)) AS t_day,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM u),
grp AS (
  SELECT t_day,
    CAST(sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x1,
    CAST(sum(ev) AS BIGINT) AS d,
    CAST(count(*) AS BIGINT) AS x
  FROM dur GROUP BY 1),
risk AS (
  SELECT t_day, d1, d,
    (SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) FROM dur)
      - CAST(coalesce(sum(x1) OVER wb, 0) AS BIGINT) AS n1,
    (SELECT count(*) FROM dur)
      - CAST(coalesce(sum(x) OVER wb, 0) AS BIGINT) AS nt
  FROM grp
  WINDOW wb AS (ORDER BY t_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
terms AS (
  SELECT d1, d, n1, nt,
    CAST(round(CAST(d AS DOUBLE) * n1 / nt * 1e6) AS BIGINT) AS e1_micro,
    CASE WHEN nt > 1 THEN
      CAST(round(CAST(d AS DOUBLE) * n1 / nt * (nt - n1) / nt
                 * (nt - d) / (nt - 1) * 1e6) AS BIGINT)
    ELSE 0 END AS v_micro
  FROM risk WHERE d > 0),
s AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         CAST(sum(e1_micro) AS BIGINT) AS e1_micro,
         CAST(sum(v_micro) AS BIGINT) AS v_micro
  FROM terms),
arms AS (
  SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl
  FROM dur)
SELECT a.n_treat, a.n_ctrl, s.o1,
  round(s.e1_micro / 1e6, 6) AS e1,
  round(s.v_micro / 1e6, 6) AS var_lr,
  round(CASE WHEN s.v_micro > 0
        THEN (s.o1 - s.e1_micro / 1e6) / sqrt(s.v_micro / 1e6) END, 6)
    AS z_stat,
  round(CASE WHEN s.v_micro > 0
        THEN (s.o1 - s.e1_micro / 1e6) * (s.o1 - s.e1_micro / 1e6)
             / (s.v_micro / 1e6) END, 6) AS chi2
FROM s CROSS JOIN arms a
"""


@register("log_rank_test", oracle=_LOGRANK_ORACLE)
def log_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test: do the two parity arms'
    time-to-first-purchase survival curves differ? At every event
    day, the treated arm's observed events are compared to the
    hypergeometric expectation d·n₁/n given the at-risk sets, with
    the matching variance — the inference companion to the
    kaplan_meier curve (same durations, same censoring-at-last-
    activity convention).

    Scale shape: the same per-user duration reduce as kaplan_meier;
    at-risk counts come from exclusive cumsums on the O(distinct
    durations) frame; each day's expectation/variance term is
    micro-rounded ONCE to BIGINT and summed exactly, so the z and χ²
    hash-match the oracle.
    """
    dur = _durations(load_table(spark, sf_dir, "events")).select(
        (F.col("user_id") % 2).alias("arm"), "t_day", "ev"
    )
    grp = dur.groupBy("t_day").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("ev")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum((F.col("arm") == 1).cast("long")).cast("long").alias("x1"),
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("x"),
    )
    tot = dur.agg(
        F.sum((F.col("arm") == 1).cast("long")).cast("long").alias("n_treat"),
        F.sum((F.col("arm") == 0).cast("long")).cast("long").alias("n_ctrl"),
    )
    wb = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, -1)
    risk = grp.transform(with_scalars, tot).select(
        "t_day",
        "d1",
        "d",
        (
            F.col("n_treat")
            - F.coalesce(F.sum("x1").over(wb), F.lit(0))
        )
        .cast("long")
        .alias("n1"),
        (
            F.col("n_treat")
            + F.col("n_ctrl")
            - F.coalesce(F.sum("x").over(wb), F.lit(0))
        )
        .cast("long")
        .alias("nt"),
    )
    dd = F.col("d").cast("double")
    n1d = F.col("n1").cast("double")
    ntd = F.col("nt").cast("double")
    terms = risk.filter(F.col("d") > 0).select(
        "d1",
        round_long(dd * n1d / ntd * 1e6).alias("e1_micro"),
        F.when(
            F.col("nt") > 1,
            round_long(
                dd
                * n1d
                / ntd
                * (ntd - n1d)
                / ntd
                * (ntd - dd)
                / (ntd - 1)
                * 1e6
            ),
        )
        .otherwise(F.lit(0))
        .alias("v_micro"),
    )
    s = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1_micro").cast("long").alias("e1_micro"),
        F.sum("v_micro").cast("long").alias("v_micro"),
    )
    e1 = F.col("e1_micro") / 1e6
    v = F.col("v_micro") / 1e6
    # zero log-rank variance (round-7 one_ticker fuzz: a single user /
    # single arm puts every at-risk set at nt <= 1) -> NULL statistics
    # on both engines instead of an ANSI divide-by-zero
    ok = F.col("v_micro") > 0
    return s.transform(with_scalars, tot).select(
        "n_treat",
        "n_ctrl",
        "o1",
        F.round(e1, 6).alias("e1"),
        F.round(v, 6).alias("var_lr"),
        F.round(F.when(ok, (F.col("o1") - e1) / F.sqrt(v)), 6).alias(
            "z_stat"
        ),
        F.round(
            F.when(ok, (F.col("o1") - e1) * (F.col("o1") - e1) / v), 6
        ).alias("chi2"),
    )


# --------------------------------------------------------------------------
# Empirical tail dependence between purchase and click daily values
# --------------------------------------------------------------------------

_TD_A = "purchase"
_TD_B = "click"

_TAILDEP_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
    CAST(sum(CASE WHEN event_type = '{_TD_A}'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS p,
    CAST(sum(CASE WHEN event_type = '{_TD_B}'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS c
  FROM events WHERE event_type IN ('{_TD_A}', '{_TD_B}')
  GROUP BY 1),
rk AS (
  SELECT day, p, c,
         CAST(row_number() OVER (ORDER BY p, day) AS BIGINT) AS rp,
         CAST(row_number() OVER (ORDER BY c, day) AS BIGINT) AS rc,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily),
k AS (SELECT any_value(n) AS n, any_value(n) // 4 AS k FROM rk),
s AS (
  SELECT
    CAST(sum(CASE WHEN rp > n - (n // 4) AND rc > n - (n // 4)
             THEN 1 ELSE 0 END) AS BIGINT) AS joint_up,
    CAST(sum(CASE WHEN rp <= n // 4 AND rc <= n // 4
             THEN 1 ELSE 0 END) AS BIGINT) AS joint_lo
  FROM rk)
SELECT CAST(k.n AS BIGINT) AS n_days, CAST(k.k AS BIGINT) AS k,
       s.joint_up, s.joint_lo,
       round(CAST(s.joint_up AS DOUBLE) / k.k, 6) AS lambda_upper,
       round(CAST(s.joint_lo AS DOUBLE) / k.k, 6) AS lambda_lower
FROM k CROSS JOIN s
"""


@register("tail_dependence", oracle=_TAILDEP_ORACLE)
def tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail-dependence between the daily purchase and click
    value series: with k = n/4 (the top/bottom quartile of days by
    rank), λ_upper = |top-k by P ∩ top-k by C| / k and the lower
    analog — the co-crash/co-boom diagnostic a linear correlation
    misses entirely (correlation sees the middle; risk lives in the
    corners), extending the risk family (var_cvar, ledoit_wolf_cov).

    Determinism and scale: day ranks are exact order statistics with
    day tiebreak (O(days) frame windows); the joint-exceedance counts
    and k = n div 4 are exact integers; the two λ readouts are single
    divisions.
    """
    e = load_table(spark, sf_dir, "events")
    cents = round_long(F.col("value") * 100)
    daily = (
        e.filter(F.col("event_type").isin(_TD_A, _TD_B))
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == _TD_A, cents).otherwise(0))
            .cast("long")
            .alias("p"),
            F.sum(F.when(F.col("event_type") == _TD_B, cents).otherwise(0))
            .cast("long")
            .alias("c"),
        )
    )
    wall = Window.partitionBy()
    rk = daily.select(
        F.row_number().over(Window.orderBy("p", "day")).cast("long").alias("rp"),
        F.row_number().over(Window.orderBy("c", "day")).cast("long").alias("rc"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    kq = F.expr("n div 4")
    s = rk.agg(
        F.any_value("n").cast("long").alias("n_days"),
        F.any_value(kq).cast("long").alias("k"),
        F.sum(
            (
                (F.col("rp") > F.col("n") - kq)
                & (F.col("rc") > F.col("n") - kq)
            ).cast("long")
        )
        .cast("long")
        .alias("joint_up"),
        F.sum(((F.col("rp") <= kq) & (F.col("rc") <= kq)).cast("long"))
        .cast("long")
        .alias("joint_lo"),
    )
    return s.select(
        "n_days",
        "k",
        "joint_up",
        "joint_lo",
        # k = n div 4 = 0 under 4 days (round-7 tiny fuzz): the
        # quartile exceedance sets are empty and λ is undefined —
        # NULL on both engines (DuckDB's division by zero is NULL)
        F.round(
            F.when(
                F.col("k") > 0,
                F.col("joint_up").cast("double") / F.col("k"),
            ),
            6,
        ).alias("lambda_upper"),
        F.round(
            F.when(
                F.col("k") > 0,
                F.col("joint_lo").cast("double") / F.col("k"),
            ),
            6,
        ).alias("lambda_lower"),
    )


# --------------------------------------------------------------------------
# Adstock (geometric carryover) correlation lift
# --------------------------------------------------------------------------

_ADSTOCK_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT date_trunc('day', ts) AS day,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      AS x,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS y
  FROM events GROUP BY 1),
idx AS (
  SELECT x, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily),
rec AS (
  SELECT t, n, x, y, x AS a FROM idx WHERE t = 1
  UNION ALL
  SELECT i.t, i.n, i.x, i.y, i.x + (r.a >> 1) AS a
  FROM rec r JOIN idx i ON i.t = r.t + 1),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(a) AS BIGINT) AS sa,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(a * a) AS BIGINT) AS saa,
    CAST(sum(y * y) AS BIGINT) AS syy,
    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(a * y) AS BIGINT) AS say
  FROM rec),
c AS (
  SELECT n,
    CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
    END AS r_raw,
    CASE WHEN (CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
              * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
    THEN (CAST(n AS DOUBLE) * say - CAST(sa AS DOUBLE) * sy)
      / sqrt((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
             * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
    END AS r_adstock
  FROM s)
SELECT n AS n_days,
  round(r_raw, 6) AS r_raw,
  round(r_adstock, 6) AS r_adstock,
  round(r_adstock - r_raw, 6) AS carryover_lift
FROM c
"""


@register("adstock_correlation", oracle=_ADSTOCK_ORACLE)
def adstock_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adstock (geometric carryover, λ=1/2) correlation lift: build
    the exact integer adstock a_t = x_t + (a_{t−1} >> 1) of daily
    click counts and compare corr(adstock, purchases) against the
    same-day corr(clicks, purchases) — the marketing-mix primitive
    that asks whether yesterday's touches still convert today
    (positive lift ⇒ carryover matters; media-mix models start
    here).

    Determinism: the carryover recursion is a pure BIGINT shift fold
    (same family as the Holt recursions) replayed by a recursive-CTE
    oracle; both correlations come from one exact 9-counter Gram
    reduce over the O(days) frame.
    """
    e = spread(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("y"),
    )
    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "x", "y"))).alias("arr")
    )
    # fold the adstock over the ordered array, carrying (a, rows)
    init = F.struct(
        F.lit(0).cast("long").alias("a"),
        F.array().cast("array<struct<x:bigint,y:bigint,a:bigint>>").alias(
            "rows"
        ),
    )

    def step(acc, r):
        a_new = r["x"] + F.shiftright(acc["a"], 1)
        return F.struct(
            a_new.alias("a"),
            F.concat(
                acc["rows"],
                F.array(
                    F.struct(
                        r["x"].alias("x"), r["y"].alias("y"), a_new.alias("a")
                    )
                ),
            ).alias("rows"),
        )

    folded = series.select(
        F.aggregate(F.col("arr"), init, step)["rows"].alias("rows")
    )
    rows = folded.select(F.explode("rows").alias("r")).select(
        F.col("r.x").alias("x"), F.col("r.y").alias("y"), F.col("r.a").alias("a")
    )
    s = rows.agg(
        *moment_sums(F.col("x"), F.col("y")),
        F.sum("a").cast("long").alias("sa"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("a") * F.col("y")).cast("long").alias("say"),
    )

    def corr(sxy_c, sx_c, sxx_c):
        # zero-variance series (round-7 one-type fuzz: no clicks or no
        # purchases at all) -> NULL correlation on both engines
        den = scaled_comoment("n", sxx_c, sx_c, sx_c) * scaled_comoment(
            "n", "syy", "sy", "sy"
        )
        return F.when(
            den > 0, scaled_comoment("n", sxy_c, sx_c, "sy") / F.sqrt(den)
        )

    r_raw = corr("sxy", "sx", "sxx")
    r_ad = corr("say", "sa", "saa")
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(r_raw, 6).alias("r_raw"),
        F.round(r_ad, 6).alias("r_adstock"),
        F.round(r_ad - r_raw, 6).alias("carryover_lift"),
    )


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (time to first purchase)
# --------------------------------------------------------------------------

_NA_ORACLE = """
WITH u AS (
  SELECT user_id,
    min(date_trunc('day', ts)) AS t0,
    min(CASE WHEN event_type = 'purchase' THEN date_trunc('day', ts) END)
      AS tp,
    max(date_trunc('day', ts)) AS tend
  FROM events GROUP BY 1),
dur AS (
  SELECT date_diff('day', t0, coalesce(tp, tend)) AS t_day,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM u),
grp AS (
  SELECT t_day, CAST(sum(ev) AS BIGINT) AS d,
         CAST(sum(1 - ev) AS BIGINT) AS c
  FROM dur GROUP BY 1),
risk AS (
  SELECT t_day, d, c,
    CAST((SELECT count(*) FROM dur)
      - coalesce(sum(d + c) OVER (ORDER BY t_day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS n_risk
  FROM grp),
terms AS (
  SELECT t_day, d, c, n_risk,
    CAST(round(CAST(d AS DOUBLE) / n_risk * 1e9) AS BIGINT) AS h_nano,
    CAST(round(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk) * 1e9)
         AS BIGINT) AS v_nano
  FROM risk)
SELECT CAST(t_day AS BIGINT) AS t_day, n_risk, d AS n_event,
       c AS n_censored,
  round(CAST(sum(h_nano) OVER w AS BIGINT) / 1e9, 6) AS cum_hazard,
  round(CAST(sum(v_nano) OVER w AS BIGINT) / 1e9, 6) AS var_hazard
FROM terms
WINDOW w AS (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
"""


@register("nelson_aalen", oracle=_NA_ORACLE)
def nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of time-to-first-purchase:
    H(t) = Σ d_i/n_i with the Poisson variance Σ d_i/n_i² — the
    hazard-scale companion to kaplan_meier's survival curve (same
    durations, same censoring) that log_rank_test compares across
    arms; H is the quantity additive-over-time dashboards plot.

    Determinism and scale: identical duration reduce and O(distinct
    durations) at-risk cumsums as kaplan_meier; each day's hazard
    and variance increment is nano-rounded ONCE to BIGINT and
    cumulated exactly.
    """
    risk = _risk_table(_durations(load_table(spark, sf_dir, "events")))
    dd = F.col("d").cast("double")
    nr = F.col("n_risk").cast("double")
    terms = risk.select(
        "t_day",
        "d",
        "c",
        "n_risk",
        round_long(dd / nr * 1e9).alias("h_nano"),
        round_long(dd / (nr * nr) * 1e9).alias("v_nano"),
    )
    cw = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        "t_day",
        "n_risk",
        F.col("d").alias("n_event"),
        F.col("c").alias("n_censored"),
        F.round(F.sum("h_nano").over(cw).cast("long") / 1e9, 6).alias(
            "cum_hazard"
        ),
        F.round(F.sum("v_nano").over(cw).cast("long") / 1e9, 6).alias(
            "var_hazard"
        ),
    )


# --------------------------------------------------------------------------
# Platt scaling: logistic calibration via Newton-Raphson (run parity)
# --------------------------------------------------------------------------

_PLATT_ITERS = 3
_PLATT_PG = 10_000  # sigmoid grain (1e-4)
_PLATT_XG = 1_000  # feature grain: x = score in [0,1] at 1e-3


def _platt_iter_sql(k: int) -> str:
    p = f"pp{k - 1}"
    return f"""
prob{k} AS (
  SELECT h.xq, h.n, h.pos,
    CAST(round({_PLATT_PG} / (1.0 + exp(-(p.aq / 1e6
         + p.bq / 1e6 * h.xq / {_PLATT_XG}.0)))) AS BIGINT) AS pq
  FROM shist h CROSS JOIN {p} p),
grad{k} AS (
  SELECT
    CAST(sum(pos * {_PLATT_PG} - n * pq) AS BIGINT) AS ga,
    CAST(sum(xq * (pos * {_PLATT_PG} - n * pq)) AS BIGINT) AS gb,
    CAST(sum(n * pq * ({_PLATT_PG} - pq)) AS BIGINT) AS haa,
    CAST(sum(n * xq * pq * ({_PLATT_PG} - pq)) AS BIGINT) AS hab,
    CAST(sum(n * xq * xq * pq * ({_PLATT_PG} - pq)) AS BIGINT) AS hbb
  FROM prob{k}),
pp{k} AS (
  SELECT p.aq + CAST(round(
      (CAST(g.ga AS DOUBLE) / {_PLATT_PG}
         * (CAST(g.hbb AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
            / ({_PLATT_XG} * {_PLATT_XG}.0))
       - CAST(g.gb AS DOUBLE) / ({_PLATT_PG} * {_PLATT_XG}.0)
         * (CAST(g.hab AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
            / {_PLATT_XG}.0))
      / (CAST(g.haa AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
           * (CAST(g.hbb AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
              / ({_PLATT_XG} * {_PLATT_XG}.0))
         - (CAST(g.hab AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
            / {_PLATT_XG}.0)
           * (CAST(g.hab AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
              / {_PLATT_XG}.0)) * 1e6) AS BIGINT) AS aq,
    p.bq + CAST(round(
      (CAST(g.haa AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
         * CAST(g.gb AS DOUBLE) / ({_PLATT_PG} * {_PLATT_XG}.0)
       - CAST(g.hab AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
         / {_PLATT_XG}.0 * CAST(g.ga AS DOUBLE) / {_PLATT_PG})
      / (CAST(g.haa AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
           * (CAST(g.hbb AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
              / ({_PLATT_XG} * {_PLATT_XG}.0))
         - (CAST(g.hab AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
            / {_PLATT_XG}.0)
           * (CAST(g.hab AS DOUBLE) / ({_PLATT_PG} * {_PLATT_PG})
              / {_PLATT_XG}.0)) * 1e6) AS BIGINT) AS bq
  FROM pp{k - 1} p CROSS JOIN grad{k} g)"""


_PLATT_ORACLE = (
    f"""
WITH hist AS (
  SELECT user_id, count(*) AS n_ev,
         count(*) FILTER (event_type = 'purchase') AS n_p
  FROM events WHERE ts < TIMESTAMP '{_CAL_SPLIT}'
  GROUP BY 1),
fut AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '{_CAL_SPLIT}' AND event_type = 'purchase'
    AND value > {{thr}}),
scored AS (
  SELECT h.user_id,
         CAST(round((h.n_p * 1000000 // h.n_ev) / 1000.0) AS BIGINT) AS xq,
         CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS y
  FROM hist h LEFT JOIN fut f ON h.user_id = f.user_id),
shist AS (
  SELECT xq, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1),
pp0 AS (SELECT CAST(0 AS BIGINT) AS aq, CAST(0 AS BIGINT) AS bq),"""
    + ",".join(_platt_iter_sql(k) for k in range(1, _PLATT_ITERS + 1))
    + f"""
, fin AS (
  SELECT h.n, h.pos,
    CAST(round({_PLATT_PG} / (1.0 + exp(-(p.aq / 1e6
         + p.bq / 1e6 * h.xq / {_PLATT_XG}.0)))) AS BIGINT) AS pq
  FROM shist h CROSS JOIN pp{_PLATT_ITERS} p),
brier AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
    CAST(sum(pos * ({_PLATT_PG} - pq) * ({_PLATT_PG} - pq)
             + (n - pos) * pq * pq) AS BIGINT) AS b_num
  FROM fin)
SELECT b.n_tot AS n,
  round(p.aq / 1e6, 6) AS intercept,
  round(p.bq / 1e6, 6) AS slope,
  round(CAST(b.b_num AS DOUBLE)
        / ({_PLATT_PG} * {_PLATT_PG}.0) / b.n_tot, 6) AS brier
FROM pp{_PLATT_ITERS} p CROSS JOIN brier b
""".replace("{thr}", str(_MCN_THR))
).replace("{thr}", str(_MCN_THR))


@register("platt_scaling", oracle=_PLATT_ORACLE)
def platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling: calibrate the first-half propensity score into
    a probability of second-half big-ticket conversion by fitting
    σ(a + b·x) with {it} Newton-Raphson iterations — the parametric
    sibling of isotonic_calibration, here as a RUN-PARITY distributed
    convex optimizer: sigmoids are evaluated per DISTINCT score value
    (1e-4 grain), gradients and Hessians are exact BIGINT
    histogram-weighted sums, the 2×2 Newton solve runs in
    identically-shaped doubles, and (a, b) are re-quantized to 1e-6
    each step, so the DuckDB oracle replays the optimizer exactly.
    The final Brier score (exact integer numerator) rides along.

    Scale shape: facts reduce to one row per user, then to the
    O(distinct scores ≤ {xg}+1) histogram; every Newton iteration is
    that tiny frame × a 1-row broadcast parameter frame — optimizer
    cost independent of row count.
    """.format(it=_PLATT_ITERS, xg=_PLATT_XG)
    scored = _holdout_scores(
        load_table(spark, sf_dir, "events"), _MCN_THR
    ).select(round_long(F.col("s_micro") / 1000.0).alias("xq"), "y")
    shist = scored.groupBy("xq").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    params = spark.range(1).select(
        F.lit(0).cast("long").alias("aq"), F.lit(0).cast("long").alias("bq")
    )
    PG, XG = float(_PLATT_PG), float(_PLATT_XG)

    def sigmoid_q():
        return (
            round_long(
                _PLATT_PG
                / (
                    1.0
                    + F.exp(
                        -(
                            F.col("aq") / 1e6
                            + F.col("bq") / 1e6 * F.col("xq") / XG
                        )
                    )
                )
            )
            .alias("pq")
        )

    for _ in range(_PLATT_ITERS):
        prob = shist.transform(bcast_params, params).select(
            "xq", "n", "pos", "aq", "bq", sigmoid_q()
        )
        resid = F.col("pos") * _PLATT_PG - F.col("n") * F.col("pq")
        wgt = F.col("n") * F.col("pq") * (_PLATT_PG - F.col("pq"))
        grad = prob.agg(
            F.any_value("aq").alias("aq"),
            F.any_value("bq").alias("bq"),
            F.sum(resid).cast("long").alias("ga"),
            F.sum(F.col("xq") * resid).cast("long").alias("gb"),
            F.sum(wgt).cast("long").alias("haa"),
            F.sum(F.col("xq") * wgt).cast("long").alias("hab"),
            F.sum(F.col("xq") * F.col("xq") * wgt).cast("long").alias("hbb"),
        )
        ga = F.col("ga").cast("double") / PG
        gb = F.col("gb").cast("double") / (PG * XG)
        haa = F.col("haa").cast("double") / (PG * PG)
        hab = F.col("hab").cast("double") / (PG * PG) / XG
        hbb = F.col("hbb").cast("double") / (PG * PG) / (XG * XG)
        det = haa * hbb - hab * hab
        params = grad.select(
            (F.col("aq") + round_long((ga * hbb - gb * hab) / det * 1e6))
            .alias("aq"),
            (F.col("bq") + round_long((haa * gb - hab * ga) / det * 1e6))
            .alias("bq"),
        )
    fin = shist.transform(bcast_params, params).select(
        "n", "pos", "aq", "bq", sigmoid_q()
    )
    brier = fin.agg(
        F.any_value("aq").alias("aq"),
        F.any_value("bq").alias("bq"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(
            F.col("pos") * (_PLATT_PG - F.col("pq")) * (_PLATT_PG - F.col("pq"))
            + (F.col("n") - F.col("pos")) * F.col("pq") * F.col("pq")
        )
        .cast("long")
        .alias("b_num"),
    )
    return brier.select(
        F.col("n_tot").alias("n"),
        F.round(F.col("aq") / 1e6, 6).alias("intercept"),
        F.round(F.col("bq") / 1e6, 6).alias("slope"),
        F.round(
            F.col("b_num").cast("double") / (PG * PG) / F.col("n_tot"), 6
        ).alias("brier"),
    )


# --------------------------------------------------------------------------
# Wilcoxon signed-rank test: per-user first-half vs second-half value
# --------------------------------------------------------------------------

_WSR_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
         CAST(max(epoch_us(ts)) AS BIGINT) AS hi
  FROM events),
u AS (
  SELECT e.user_id,
    CAST(sum(CASE WHEN epoch_us(e.ts) * 2 < b.lo + b.hi
             THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS s1,
    CAST(sum(CASE WHEN epoch_us(e.ts) * 2 < b.lo + b.hi
             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN epoch_us(e.ts) * 2 >= b.lo + b.hi
             THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS s2,
    CAST(sum(CASE WHEN epoch_us(e.ts) * 2 >= b.lo + b.hi
             THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM events e CROSS JOIN bounds b
  GROUP BY 1),
diffs AS (
  SELECT CAST(round((CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1)
              * 100) AS BIGINT) AS d
  FROM u WHERE n1 > 0 AND n2 > 0),
nz AS (SELECT d, abs(d) AS ad FROM diffs WHERE d <> 0),
h AS (
  SELECT ad, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos
  FROM nz GROUP BY 1),
r2 AS (
  SELECT ad, cnt, cpos,
         2 * CAST(coalesce(sum(cnt) OVER (ORDER BY ad
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           + cnt + 1 AS rank2
  FROM h),
s AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(cpos * rank2) AS BIGINT) AS wplus2,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
  FROM r2)
SELECT n,
  round(wplus2 / 2.0, 6) AS w_plus,
  round(CAST(n AS DOUBLE) * (n + 1) / 4.0, 6) AS w_expected,
  round((wplus2 / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4.0)
        / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
               - CAST(tie_sum AS DOUBLE) / 48.0), 6) AS z_stat
FROM s
"""


@register("wilcoxon_signed_rank", oracle=_WSR_ORACLE)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test: did each user's mean event value
    shift between the window halves? Differences are cent-rounded
    per-user mean changes; |d| midranks come off the distinct-value
    HISTOGRAM as exact 2×-scaled integers (zeros dropped, Pratt
    convention omitted), W⁺ compares against n(n+1)/4 with the
    tie-corrected normal variance — the paired continuous companion
    to mcnemar_test (paired binary) and the within-user alternative
    to mann_whitney_u (independent samples).

    Scale shape: one per-user conditional reduce (with the 1-row
    bounds broadcast), then everything runs on the O(distinct |d|)
    histogram — the same no-global-sort midrank machinery as
    kruskal_wallis.
    """
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = load_table(spark, sf_dir, "events")
    us = micros("ts")
    bounds = e.agg(
        F.min(us).cast("long").alias("lo"), F.max(us).cast("long").alias("hi")
    )
    cents = round_long(F.col("value") * 100)
    first = us * 2 < F.col("lo") + F.col("hi")
    u = (
        e.transform(with_scalars, bounds)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(first, cents).otherwise(0)).cast("long").alias("s1"),
            F.sum(first.cast("long")).cast("long").alias("n1"),
            F.sum(F.when(~first, cents).otherwise(0)).cast("long").alias("s2"),
            F.sum((~first).cast("long")).cast("long").alias("n2"),
        )
    )
    diffs = u.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        round_long(
            (
                F.col("s2").cast("double") / F.col("n2")
                - F.col("s1").cast("double") / F.col("n1")
            )
            * 100
        )
        .alias("d")
    )
    nz = diffs.filter(F.col("d") != 0).select(
        "d", F.abs(F.col("d")).alias("ad")
    )
    h = nz.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum((F.col("d") > 0).cast("long")).cast("long").alias("cpos"),
    )
    cw = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    r2 = h.select(
        "cnt",
        "cpos",
        (
            2 * F.coalesce(F.sum("cnt").over(cw), F.lit(0))
            + F.col("cnt")
            + 1
        )
        .cast("long")
        .alias("rank2"),
    )
    s = r2.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cpos") * F.col("rank2")).cast("long").alias("wplus2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_sum"),
    )
    n = F.col("n").cast("double")
    wp = F.col("wplus2") / 2.0
    mu = n * (F.col("n") + 1) / 4.0
    var = n * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24.0 - F.col(
        "tie_sum"
    ).cast("double") / 48.0
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(wp, 6).alias("w_plus"),
        F.round(mu, 6).alias("w_expected"),
        F.round((wp - mu) / F.sqrt(var), 6).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Taylor's power law: ln(variance) vs ln(mean) across (type, weekday)
# --------------------------------------------------------------------------

_TPL_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         (CAST(datediff('day', DATE '1970-01-01', date_trunc('day', ts))
               AS BIGINT) + 3) % 7 AS dow,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3),
cells AS (
  SELECT event_type, dow,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM daily GROUP BY 1, 2
  HAVING count(*) >= 2),
lm AS (
  SELECT CAST(round(ln(CAST(s AS DOUBLE) / n) * 1e6) AS BIGINT) AS lx,
         CAST(round(ln((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                       / (n - 1)) * 1e6) AS BIGINT) AS ly
  FROM cells
  WHERE (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) > 0),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
         CAST(sum(lx * ly) AS BIGINT) AS sxy,
         CAST(sum(lx * lx) AS BIGINT) AS sxx
  FROM lm)
SELECT n AS n_cells,
  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
    AS taylor_slope,
  round((CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy)
        / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / 1e6, 6)
    AS intercept_ln
FROM g
"""


@register("taylor_power_law", oracle=_TPL_ORACLE)
def taylor_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law: the slope of ln(variance) on ln(mean) of
    daily event counts across (event_type, weekday) cells — the
    mean-variance scaling exponent (1 = Poisson, 2 = fully clustered)
    that tells a capacity planner how bursts grow with volume,
    refining negbin_fit's single dispersion number into a scaling LAW.

    Determinism and scale: per-cell (n, Σc, Σc²) are exact BIGINT
    map-side sums; each cell's ln(mean)/ln(variance) micro-rounds
    ONCE (the documented libm pattern) and the OLS runs on exact
    integer Gram sums over the O(types × 7) cell frame.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    daily = daily.withColumn(
        "dow",
        (F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long") + 3) % 7,
    )
    cells = (
        daily.groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
        .filter(F.col("n") >= 2)
    )
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    lm = cells.filter(
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
        > 0
    ).select(
        round_long(F.log(F.col("s").cast("double") / F.col("n")) * 1e6)
        .alias("lx"),
        round_long(F.log(var) * 1e6).alias("ly"),
    )
    g = lm.agg(*moment_sums(F.col("lx"), F.col("ly")))
    det = scaled_comoment("n", "sxx", "sx", "sx")
    return g.select(
        F.col("n").alias("n_cells"),
        F.round(scaled_comoment("n", "sxy", "sx", "sy") / det, 6).alias(
            "taylor_slope"
        ),
        F.round(
            (
                F.col("sy").cast("double") * F.col("sxx")
                - F.col("sx").cast("double") * F.col("sxy")
            )
            / det
            / 1e6,
            6,
        ).alias("intercept_ln"),
    )


# --------------------------------------------------------------------------
# Ratio-metric A/B test with delta-method variance
# --------------------------------------------------------------------------

_RMD_ORACLE = """
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
    CAST(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS x,
    CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
s AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
    CAST(sum(x * y) AS BIGINT) AS sxy
  FROM u GROUP BY 1),
k AS (
  SELECT arm, n,
    CAST(sx AS DOUBLE) / sy AS r,
    CAST(sy AS DOUBLE) / n AS my,
    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS vx,
    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vy,
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1) AS cxy
  FROM s WHERE n > 1),
d AS (
  SELECT arm, n, r,
    (vx - 2 * r * cxy + r * r * vy) / (my * my) / n AS var_r
  FROM k)
SELECT t.n AS n_treat, c.n AS n_ctrl,
  round(t.r / 100.0, 6) AS ratio_treat,
  round(c.r / 100.0, 6) AS ratio_ctrl,
  round((t.r - c.r) / 100.0, 6) AS diff_dollars,
  round(CASE WHEN t.var_r + c.var_r > 0
        THEN (t.r - c.r) / sqrt(t.var_r + c.var_r) END, 6) AS z_stat
FROM (SELECT * FROM d WHERE arm = 1) t
CROSS JOIN (SELECT * FROM d WHERE arm = 0) c
"""


@register("ratio_metric_delta", oracle=_RMD_ORACLE)
def ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-metric A/B test with the DELTA-METHOD variance: compare
    revenue-per-event (Σ purchase value / Σ events) between parity
    arms, with var(R) ≈ (σ²_x − 2Rσ_xy + R²σ²_y)/(μ²_y·n) — the
    correct SE for ratio-of-sums metrics that a naive
    average-of-user-ratios analysis biases and a per-user t-test gets
    wrong (the denominator varies per user; randomization is by
    user, not by event).

    Scale shape: one per-user conditional reduce, one 7-counter exact
    BIGINT power-sum reduce per arm, every double expression
    evaluated once on the 2-row frame.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id", (F.col("user_id") % 2).alias("arm")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                round_long(F.col("value") * 100),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    )
    s = u.groupBy("arm").agg(*moment_sums(F.col("x"), F.col("y")))
    n = F.col("n")
    r = F.col("sx").cast("double") / F.col("sy")
    my = F.col("sy").cast("double") / n
    vx = centred_comoment("n", "sxx", "sx", "sx") / (n - 1)
    vy = centred_comoment("n", "syy", "sy", "sy") / (n - 1)
    cxy = centred_comoment("n", "sxy", "sx", "sy") / (n - 1)
    # single-user arms (round-7 one_ticker fuzz) have no delta-method
    # variance — drop them (oracle: WHERE n > 1 in k); a missing arm
    # then empties the final frame via the NULL-scalar filter below
    d = s.filter(n > 1).select(
        "arm",
        "n",
        r.alias("r"),
        ((vx - 2 * r * cxy + r * r * vy) / (my * my) / n).alias("var_r"),
    )
    t = d.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_treat"),
        F.col("r").alias("rt"),
        F.col("var_r").alias("vt"),
    )
    c = d.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_ctrl"),
        F.col("r").alias("rc"),
        F.col("var_r").alias("vc"),
    )
    return (
        t.transform(with_scalars, c)
        .filter(F.col("n_ctrl").isNotNull())
        .select(
            "n_treat",
            "n_ctrl",
            F.round(F.col("rt") / 100.0, 6).alias("ratio_treat"),
            F.round(F.col("rc") / 100.0, 6).alias("ratio_ctrl"),
            F.round((F.col("rt") - F.col("rc")) / 100.0, 6).alias(
                "diff_dollars"
            ),
            F.round(
                F.when(
                    F.col("vt") + F.col("vc") > 0,
                    (F.col("rt") - F.col("rc"))
                    / F.sqrt(F.col("vt") + F.col("vc")),
                ),
                6,
            ).alias("z_stat"),
        )
    )


# --------------------------------------------------------------------------
# Goodman-Kruskal gamma / Somers' D: ordinal association on a k x m table
# --------------------------------------------------------------------------

_GK_ORACLE = """
WITH base AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
         least(CAST(o_totalprice AS BIGINT) // 100000, 4) AS y
  FROM orders),
cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1, 2),
pairs AS (
  SELECT a.x, a.y, a.n,
    CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y THEN b.n ELSE 0 END)
         AS BIGINT) AS n_gt,
    CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y THEN b.n ELSE 0 END)
         AS BIGINT) AS n_lt,
    CAST(sum(CASE WHEN b.x > a.x AND b.y = a.y THEN b.n ELSE 0 END)
         AS BIGINT) AS n_tx
  FROM cells a JOIN cells b ON TRUE
  GROUP BY 1, 2, 3),
s AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(sum(n * n_gt) AS BIGINT) AS c,
         CAST(sum(n * n_lt) AS BIGINT) AS d,
         CAST(sum(n * n_tx) AS BIGINT) AS t_y
  FROM pairs)
SELECT n_rows, c AS concordant, d AS discordant,
  round((CAST(c AS DOUBLE) - d) / (CAST(c AS DOUBLE) + d), 6) AS gamma,
  round((CAST(c AS DOUBLE) - d) / (CAST(c AS DOUBLE) + d + t_y), 6)
    AS somers_d
FROM s
"""


@register("ordinal_association", oracle=_GK_ORACLE)
def ordinal_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma and Somers' D between order priority
    (ordinal 1-URGENT…5-LOW) and the order-value band ($1000-wide
    buckets capped at 5) — the ordinal-association pair that
    chi_square_independence (nominal) and kendall_tau_flow
    (continuous) bracket but neither answers for a k×m ORDERED
    contingency table.

    Scale shape: the facts reduce to the ≤25-cell contingency table
    in one map-side pass; concordant/discordant/tie masses come from
    the cell-pair grid (bounded k·m × k·m — never a row-level pair
    join), all exact BIGINT products.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.substring(F.col("o_orderpriority"), 1, 1).cast("long").alias("x"),
        F.least(
            F.expr("CAST(o_totalprice AS BIGINT) div 100000"), F.lit(4)
        ).alias("y"),
    )
    cells = base.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("n").alias("nb")
    )
    pairs = (
        cells.transform(explode_grid, b)
        .groupBy("x", "y", "n")
        .agg(
            F.sum(
                F.when(
                    (F.col("xb") > F.col("x")) & (F.col("yb") > F.col("y")),
                    F.col("nb"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_gt"),
            F.sum(
                F.when(
                    (F.col("xb") > F.col("x")) & (F.col("yb") < F.col("y")),
                    F.col("nb"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_lt"),
            F.sum(
                F.when(
                    (F.col("xb") > F.col("x")) & (F.col("yb") == F.col("y")),
                    F.col("nb"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_tx"),
        )
    )
    s = pairs.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum(F.col("n") * F.col("n_gt")).cast("long").alias("c"),
        F.sum(F.col("n") * F.col("n_lt")).cast("long").alias("d"),
        F.sum(F.col("n") * F.col("n_tx")).cast("long").alias("t_y"),
    )
    c, d = F.col("c").cast("double"), F.col("d").cast("double")
    return s.select(
        "n_rows",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.round((c - d) / (c + d), 6).alias("gamma"),
        F.round((c - d) / (c + d + F.col("t_y")), 6).alias("somers_d"),
    )


# --------------------------------------------------------------------------
# Relative risk and odds ratio with Wald confidence intervals
# --------------------------------------------------------------------------

_RR_Z95 = "1.959963985e0"  # z_{0.975}, shared literal

_RR_ORACLE = f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
    CAST(max(CASE WHEN event_type = 'purchase' AND value > {{thr}}
             THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
s AS (
  SELECT
    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN arm = 1 THEN 1 - y ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN arm = 0 THEN 1 - y ELSE 0 END) AS BIGINT) AS d
  FROM u),
k AS (
  SELECT a, b, c, d,
    (CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)) AS rr,
    (CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c) AS orr,
    CAST(round(ln((CAST(a AS DOUBLE) / (a + b))
                  / (CAST(c AS DOUBLE) / (c + d))) * 1e6) AS BIGINT) / 1e6
      AS lrr,
    CAST(round(ln((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c)) * 1e6)
         AS BIGINT) / 1e6 AS lor,
    sqrt(1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d)) AS se_lrr,
    sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS se_lor
  FROM s
  -- degenerate-cell guard (round-6 fuzz): OR/RR and their Wald SEs
  -- are undefined with an empty 2x2 cell — zero rows on both engines
  WHERE a > 0 AND b > 0 AND c > 0 AND d > 0)
SELECT a AS treat_pos, b AS treat_neg, c AS ctrl_pos, d AS ctrl_neg,
  round(rr, 6) AS relative_risk,
  round(CAST(round(exp(lrr - CAST('{_RR_Z95}' AS DOUBLE) * se_lrr) * 1e6)
             AS BIGINT) / 1e6, 6) AS rr_ci_lo,
  round(CAST(round(exp(lrr + CAST('{_RR_Z95}' AS DOUBLE) * se_lrr) * 1e6)
             AS BIGINT) / 1e6, 6) AS rr_ci_hi,
  round(orr, 6) AS odds_ratio,
  round(CAST(round(exp(lor - CAST('{_RR_Z95}' AS DOUBLE) * se_lor) * 1e6)
             AS BIGINT) / 1e6, 6) AS or_ci_lo,
  round(CAST(round(exp(lor + CAST('{_RR_Z95}' AS DOUBLE) * se_lor) * 1e6)
             AS BIGINT) / 1e6, 6) AS or_ci_hi
FROM k
""".replace("{thr}", str(_MCN_THR))


@register("odds_ratio_ci", oracle=_RR_ORACLE)
def odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative risk and odds ratio of big-ticket conversion between
    parity arms, each with its 95% Wald interval on the log scale —
    the epidemiology-standard effect readout that two_proportion_ztest
    (significance only) and effect_sizes (standardized differences)
    both omit: 'treatment multiplies conversion risk by X, CI [L, U]'.

    Determinism: the 2×2 table is exact; log-RR/log-OR and each
    exp(bound) micro-round ONCE (libm pattern); SEs are
    identically-shaped IEEE square roots of exact-count reciprocals;
    the z constant is a shared literal. One per-user reduce, one
    4-counter reduce.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id", (F.col("user_id") % 2).alias("arm")).agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > _MCN_THR)
            ).cast("long")
        )
        .cast("long")
        .alias("y")
    )
    s = u.agg(
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("arm") == 1, 1 - F.col("y")).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(F.col("arm") == 0, 1 - F.col("y")).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    # degenerate-cell guard (round-6 fuzz): zero rows, not an ANSI
    # divide-by-zero, when any 2x2 cell is empty (oracle matched)
    s = s.filter((a > 0) & (b > 0) & (c > 0) & (d > 0))
    rr = (a.cast("double") / (a + b)) / (c.cast("double") / (c + d))
    orr = (a.cast("double") * d) / (b.cast("double") * c)
    lrr = r6(F.log(rr))
    lor = r6(F.log(orr))
    se_lrr = F.sqrt(
        1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d)
    )
    se_lor = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    z = F.expr(f"CAST('{_RR_Z95}' AS DOUBLE)")

    def expq(x):
        return r6(F.exp(x))

    return s.select(
        a.alias("treat_pos"),
        b.alias("treat_neg"),
        c.alias("ctrl_pos"),
        d.alias("ctrl_neg"),
        F.round(rr, 6).alias("relative_risk"),
        F.round(expq(lrr - z * se_lrr), 6).alias("rr_ci_lo"),
        F.round(expq(lrr + z * se_lrr), 6).alias("rr_ci_hi"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(expq(lor - z * se_lor), 6).alias("or_ci_lo"),
        F.round(expq(lor + z * se_lor), 6).alias("or_ci_hi"),
    )


# --------------------------------------------------------------------------
# Covariate balance: standardized mean differences between arms
# --------------------------------------------------------------------------

_CB_ORACLE = """
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
    CAST(count(*) AS BIGINT) AS n_events,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_purchase,
    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_error
  FROM events GROUP BY 1, 2),
long AS (
  SELECT arm, 'n_events' AS covariate, n_events AS x FROM u
  UNION ALL SELECT arm, 'total_cents', total_cents FROM u
  UNION ALL SELECT arm, 'n_purchase', n_purchase FROM u
  UNION ALL SELECT arm, 'n_error', n_error FROM u),
s AS (
  SELECT covariate, arm,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx,
    CAST(sum(x * x) AS BIGINT) AS sxx
  FROM long GROUP BY 1, 2),
k AS (
  SELECT covariate, arm, n,
    CAST(sx AS DOUBLE) / n AS m,
    CASE WHEN n > 1
         THEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
         END AS v
  FROM s)
SELECT t.covariate,
  t.n AS n_treat, c.n AS n_ctrl,
  round(t.m, 6) AS mean_treat,
  round(c.m, 6) AS mean_ctrl,
  round(CASE WHEN t.v + c.v > 0
        THEN (t.m - c.m) / sqrt((t.v + c.v) / 2.0) END, 6) AS smd,
  CAST(CASE WHEN t.v + c.v > 0
       THEN abs((t.m - c.m) / sqrt((t.v + c.v) / 2.0)) > 0.1 END AS BIGINT)
    AS imbalanced
FROM (SELECT * FROM k WHERE arm = 1) t
JOIN (SELECT * FROM k WHERE arm = 0) c ON t.covariate = c.covariate
"""


@register("covariate_balance", oracle=_CB_ORACLE)
def covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance table: the standardized mean difference
    (m_t − m_c)/√((v_t+v_c)/2) of each pre-treatment user covariate
    (activity, total value, purchase count, error count) between the
    parity arms, with the conventional |SMD| > 0.1 imbalance flag —
    the randomization-check / matching-diagnostic every psm_att,
    cuped_adjustment or A/B readout should print first (srm_check
    verifies COUNTS; this verifies COMPOSITION).

    Scale shape: one per-user reduce, an unpivot to the (covariate,
    arm) long frame, exact BIGINT power sums per cell, doubles once
    per covariate row.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id", (F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(round_long(F.col("value") * 100))
        .cast("long")
        .alias("total_cents"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("n_purchase"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("long")
        .alias("n_error"),
    )
    parts = []
    for cov in ("n_events", "total_cents", "n_purchase", "n_error"):
        parts.append(
            u.select(
                "arm", F.lit(cov).alias("covariate"), F.col(cov).alias("x")
            )
        )
    long = parts[0]
    for pn in parts[1:]:
        long = long.unionByName(pn)
    s = long.groupBy("covariate", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n = F.col("n")
    k = s.select(
        "covariate",
        "arm",
        "n",
        (F.col("sx").cast("double") / n).alias("m"),
        F.when(
            n > 1,
            (
                F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx") / n
            )
            / (n - 1),
        ).alias("v"),
    )
    t = k.filter(F.col("arm") == 1).select(
        "covariate",
        F.col("n").alias("n_treat"),
        F.col("m").alias("mt"),
        F.col("v").alias("vt"),
    )
    c = k.filter(F.col("arm") == 0).select(
        "covariate",
        F.col("n").alias("n_ctrl"),
        F.col("m").alias("mc"),
        F.col("v").alias("vc"),
    )
    # a constant covariate in both arms (round-7 one-type fuzz: zero
    # purchases/errors everywhere) has no SMD — NULL on both engines
    smd = F.when(
        F.col("vt") + F.col("vc") > 0,
        (F.col("mt") - F.col("mc"))
        / F.sqrt((F.col("vt") + F.col("vc")) / 2.0),
    )
    return t.join(c, "covariate").select(
        "covariate",
        "n_treat",
        "n_ctrl",
        F.round(F.col("mt"), 6).alias("mean_treat"),
        F.round(F.col("mc"), 6).alias("mean_ctrl"),
        F.round(smd, 6).alias("smd"),
        (F.abs(smd) > 0.1).cast("long").alias("imbalanced"),
    )


# --------------------------------------------------------------------------
# Expected calibration error over the propensity deciles
# --------------------------------------------------------------------------

_ECE_BINS = 10

_ECE_ORACLE = f"""
WITH hist AS (
  SELECT user_id, count(*) AS n_ev,
         count(*) FILTER (event_type = 'purchase') AS n_p
  FROM events WHERE ts < TIMESTAMP '{_CAL_SPLIT}'
  GROUP BY 1),
fut AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '{_CAL_SPLIT}' AND event_type = 'purchase'),
scored AS (
  SELECT h.user_id, (h.n_p * 1000000) // h.n_ev AS s_micro,
         CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS y
  FROM hist h LEFT JOIN fut f ON h.user_id = f.user_id),
b AS (
  SELECT least(s_micro // {1_000_000 // _ECE_BINS}, {_ECE_BINS - 1}) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s_micro) AS BIGINT) AS s_sum,
         CAST(sum(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1),
t AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
    -- per-bin |mean_pred - obs_rate| weighted by n: exact integer
    -- numerator |s_sum/1e6 - pos| * 1  =>  |s_sum - pos*1e6| / 1e6
    CAST(sum(abs(s_sum - pos * 1000000)) AS BIGINT) AS ece_micro,
    CAST(max(CAST(round(abs(s_sum - pos * 1000000.0) / n) AS BIGINT))
         AS BIGINT) AS mce_micro
  FROM b)
SELECT n_tot,
  round(CAST(ece_micro AS DOUBLE) / n_tot / 1e6, 6) AS ece,
  round(CAST(mce_micro AS DOUBLE) / 1e6, 6) AS mce
FROM t
"""


@register("expected_calibration_error", oracle=_ECE_ORACLE)
def expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of the first-half propensity score
    against second-half conversion: ECE = Σ_b (n_b/N)·|mean-pred_b −
    obs-rate_b| over score deciles, plus the max-bin MCE — the two
    scalar calibration numbers that summarize calibration_bins'
    reliability diagram (and grade what platt_scaling should fix).

    Determinism: the per-bin gap n_b·|p̄ − rate| equals the exact
    integer |Σs_micro − pos·1e6|, so ECE's numerator is an exact
    BIGINT sum; MCE micro-rounds each bin's gap once before max.
    Scale shape: one per-user reduce, O(bins) afterwards.
    """
    scored = _holdout_scores(load_table(spark, sf_dir, "events"))
    b = scored.groupBy(
        F.least(
            F.expr(f"s_micro div {1_000_000 // _ECE_BINS}"),
            F.lit(_ECE_BINS - 1),
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s_micro").cast("long").alias("s_sum"),
        F.sum("y").cast("long").alias("pos"),
    )
    t = b.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(F.abs(F.col("s_sum") - F.col("pos") * 1_000_000))
        .cast("long")
        .alias("ece_micro"),
        F.max(
            round_long(
                F.abs(F.col("s_sum") - F.col("pos") * 1_000_000.0) / F.col("n")
            )
        )
        .cast("long")
        .alias("mce_micro"),
    )
    return t.select(
        "n_tot",
        F.round(
            F.col("ece_micro").cast("double") / F.col("n_tot") / 1e6, 6
        ).alias("ece"),
        F.round(F.col("mce_micro").cast("double") / 1e6, 6).alias("mce"),
    )


# --------------------------------------------------------------------------
# Zero-inflation check of daily per-user purchase counts
# --------------------------------------------------------------------------

_ZIP_ORACLE = """
WITH cells AS (
  SELECT e.user_id, d.day, CAST(coalesce(p.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT user_id FROM events) e
  CROSS JOIN (SELECT DISTINCT date_trunc('day', ts) AS day FROM events) d
  LEFT JOIN (
    SELECT user_id, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS c
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
  ) p ON p.user_id = e.user_id AND p.day = d.day),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM cells)
SELECT n AS n_cells, n_zero,
  round(CAST(total AS DOUBLE) / n, 6) AS lambda_hat,
  round(CAST(n_zero AS DOUBLE) / n, 6) AS zero_rate,
  round(CAST(round(exp(-CAST(total AS DOUBLE) / n) * 1e9) AS BIGINT) / 1e9,
        6) AS poisson_zero_rate,
  round(CASE WHEN CAST(round(exp(-CAST(total AS DOUBLE) / n) * 1e9)
                  AS BIGINT) > 0
        THEN (CAST(n_zero AS DOUBLE) / n)
        / (CAST(round(exp(-CAST(total AS DOUBLE) / n) * 1e9) AS BIGINT)
           / 1e9) END, 6) AS zero_inflation_ratio
FROM s
"""


@register("zero_inflation_check", oracle=_ZIP_ORACLE)
def zero_inflation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-inflation check on the (user, day) purchase-count grid:
    the observed zero-cell rate against the Poisson prediction
    exp(−λ̂) — a ratio ≫ 1 says a Poisson (or even negbin_fit's NB
    fit on totals) understates the all-or-nothing structure and a
    hurdle/zero-inflated model is needed. Complements negbin_fit
    (overdispersion) with the zeros-specific diagnostic.

    Scale shape: the complete grid is users × days built from two
    broadcast-able distinct dims against the sparse count aggregate
    (LEFT join zero-fill, the J3-densify pattern); one 3-counter
    reduce. The single exp() micro-rounds once.
    """
    e = load_table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    days = e.select(F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cells = (
        users.transform(explode_grid, days)
        .join(p, ["user_id", "day"], "left")
        .select(F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
    )
    s = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("total"),
        F.sum((F.col("c") == 0).cast("long")).cast("long").alias("n_zero"),
    )
    lam = F.col("total").cast("double") / F.col("n")
    pz = round_long(F.exp(-lam) * 1e9) / 1e9
    # lambda large enough that the nano-rounded Poisson zero rate hits
    # exactly 0 (round-7 one_ticker fuzz: one user absorbs the whole
    # stream) -> the ratio is undefined -> NULL on both engines
    return s.select(
        F.col("n").alias("n_cells"),
        "n_zero",
        F.round(lam, 6).alias("lambda_hat"),
        F.round(F.col("n_zero").cast("double") / F.col("n"), 6).alias(
            "zero_rate"
        ),
        F.round(pz, 6).alias("poisson_zero_rate"),
        F.round(
            F.when(pz > 0, (F.col("n_zero").cast("double") / F.col("n")) / pz),
            6,
        ).alias("zero_inflation_ratio"),
    )


# --------------------------------------------------------------------------
# Jarque-Bera normality test per event type (pure moment arithmetic)
# --------------------------------------------------------------------------

_JB_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(round(value) AS BIGINT) AS c FROM events),
s AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(c) AS BIGINT) AS s1,
    CAST(sum(c * c) AS BIGINT) AS s2,
    CAST(sum(CAST(c AS HUGEINT) * c * c) AS DOUBLE) AS s3,
    CAST(sum(CAST(c AS HUGEINT) * c * c * c) AS DOUBLE) AS s4
  FROM v GROUP BY 1),
k AS (
  SELECT event_type, n,
    CAST(s1 AS DOUBLE) / n AS m1,
    CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      AS mu2,
    CAST(s3 AS DOUBLE) / n
      - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
      + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        * (CAST(s1 AS DOUBLE) / n) AS mu3,
    CAST(s4 AS DOUBLE) / n
      - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
      + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        * (CAST(s2 AS DOUBLE) / n)
      - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS mu4
  FROM s)
SELECT event_type, n,
  round(mu3 / (mu2 * sqrt(mu2)), 6) AS skewness,
  round(mu4 / (mu2 * mu2) - 3.0, 6) AS excess_kurtosis,
  round(CAST(n AS DOUBLE) / 6.0
        * ((mu3 / (mu2 * sqrt(mu2))) * (mu3 / (mu2 * sqrt(mu2)))
           + (mu4 / (mu2 * mu2) - 3.0) * (mu4 / (mu2 * mu2) - 3.0) / 4.0),
        6) AS jarque_bera
FROM k
"""


@register("jarque_bera", oracle=_JB_ORACLE)
def jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of event value per type:
    JB = n/6·(g₁² + g₂²/4) from the exact central moments — the
    moment-based normality screen (χ²₂ under H₀) that anderson_ksamp
    / ks_2samp (distribution COMPARISONS) don't provide, computed
    with NO libm at all: four exact BIGINT power sums per group and
    identically-shaped IEEE moment algebra.

    Scale shape: one map-side-combinable 5-counter pass; everything
    else on the O(types) frame. Values quantize to WHOLE DOLLARS
    (skewness/kurtosis are scale-invariant, so only the rounding
    grain changes): |c| ≤ ~500 ⇒ c⁴ ≤ 6.3e10 per row, BIGINT-safe to
    ~1e8 rows per group; rescale the grain again beyond that.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", round_long(F.col("value")).alias("c")
    )
    c = F.col("c")
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("long").alias("s1"),
        F.sum(c * c).cast("long").alias("s2"),
        # 3rd/4th powers widen to exact DECIMAL(38) (round-6 decimals
        # fuzz: c^4 overflows int64 once |c| passes ~55k regardless of
        # row count); the sum converts to double ONCE, mirrored by the
        # oracle's HUGEINT sum
        F.sum(c.cast("decimal(38,0)") * c * c).cast("double").alias("s3"),
        F.sum(c.cast("decimal(38,0)") * c * c * c)
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2r = F.col("s2").cast("double") / n
    m3r = F.col("s3").cast("double") / n
    m4r = F.col("s4").cast("double") / n
    mu2 = m2r - m1 * m1
    mu3 = m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1
    mu4 = m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1
    # zero-variance guard (round-7 tiny fuzz): an n = 1 or constant
    # group has mu2 = 0, leaving skew/kurt/JB undefined — NULL on both
    # engines (DuckDB's division by zero is NULL-valued)
    g1 = F.when(mu2 != 0, mu3 / (mu2 * F.sqrt(mu2)))
    g2 = F.when(mu2 != 0, mu4 / (mu2 * mu2) - 3.0)
    return s.select(
        "event_type",
        "n",
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("excess_kurtosis"),
        F.round(n.cast("double") / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 6).alias(
            "jarque_bera"
        ),
    )


# --------------------------------------------------------------------------
# Sample representativeness: PSI of the hash sample vs the full table
# --------------------------------------------------------------------------

_SR_PCT = 10  # deterministic md5 sample: hash % 100 < 10

_SR_ORACLE = f"""
WITH base AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 100 AS h,
         least(CAST(round(value * 100) AS BIGINT) // 2500, 9) AS bin
  FROM events),
cells AS (
  SELECT bin,
    CAST(count(*) AS BIGINT) AS n_full,
    CAST(sum(CASE WHEN h < {_SR_PCT} THEN 1 ELSE 0 END) AS BIGINT)
      AS n_samp
  FROM base GROUP BY 1),
tot AS (
  SELECT CAST(sum(n_full) AS BIGINT) AS nf,
         CAST(sum(n_samp) AS BIGINT) AS ns
  FROM cells),
terms AS (
  SELECT c.bin, c.n_full, c.n_samp,
    CAST(round((CAST(c.n_samp AS DOUBLE) / t.ns
                - CAST(c.n_full AS DOUBLE) / t.nf)
               * ln((CAST(c.n_samp AS DOUBLE) / t.ns)
                    / (CAST(c.n_full AS DOUBLE) / t.nf)) * 1e9) AS BIGINT)
      AS psi_nano
  FROM cells c CROSS JOIN tot t
  WHERE c.n_samp > 0 AND c.n_full > 0)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
  CAST(sum(n_full) AS BIGINT) AS n_full,
  CAST(sum(n_samp) AS BIGINT) AS n_sample,
  round(CAST(sum(psi_nano) AS BIGINT) / 1e9, 6) AS psi,
  CAST(CAST(sum(psi_nano) AS BIGINT) / 1e9 < 0.1 AS BIGINT)
    AS representative
FROM terms
"""


@register("sample_representativeness", oracle=_SR_ORACLE)
def sample_representativeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-representativeness audit: the PSI between the value
    distribution of a deterministic {p}% md5 sample and the full
    table, over fixed $25 bins — the check every
    deterministic_sample / hash_reservoir consumer should run before
    trusting downstream statistics (PSI < 0.1 = safe by the standard
    rule of thumb).

    Determinism and scale: the sample membership is the portable md5
    hash; bins are fixed integer buckets; each bin's PSI term
    nano-rounds ONCE (libm pattern) and sums exactly. One conditional
    histogram pass, O(bins) afterwards.
    """.format(p=_SR_PCT)
    from dissertation_iceberg_spark.functions.hashing import hash60

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.least(
            F.expr("CAST(round(value * 100) AS BIGINT) div 2500"), F.lit(9)
        ).alias("bin"),
        (hash60(F.col("event_id").cast("string")) % 100).alias("h"),
    )
    cells = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_full"),
        F.sum((F.col("h") < _SR_PCT).cast("long")).cast("long").alias(
            "n_samp"
        ),
    )
    tot = cells.agg(
        F.sum("n_full").cast("long").alias("nf"),
        F.sum("n_samp").cast("long").alias("ns"),
    )
    ps = F.col("n_samp").cast("double") / F.col("ns")
    pf = F.col("n_full").cast("double") / F.col("nf")
    terms = (
        cells.transform(with_scalars, tot)
        .filter((F.col("n_samp") > 0) & (F.col("n_full") > 0))
        .select(
            "n_full",
            "n_samp",
            round_long((ps - pf) * F.log(ps / pf) * 1e9)
            .alias("psi_nano"),
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n_full").cast("long").alias("n_full"),
        F.sum("n_samp").cast("long").alias("n_sample"),
        F.round(F.sum("psi_nano").cast("long") / 1e9, 6).alias("psi"),
        (F.sum("psi_nano").cast("long") / 1e9 < 0.1)
        .cast("long")
        .alias("representative"),
    )


# --------------------------------------------------------------------------
# IPF raking of the (event_type, weekday) table to uniform margins
# --------------------------------------------------------------------------

_IPF_ITERS = 2


def _ipf_iter_sql(k: int) -> str:
    prev = f"w{k - 1}"
    return f"""
rs{k} AS (
  SELECT event_type, CAST(sum(wq) AS BIGINT) AS row_sum
  FROM {prev} GROUP BY 1),
wr{k} AS (
  SELECT p.event_type, p.dow, p.n,
    CAST(round(p.wq * ((CAST(t.n_tot AS DOUBLE) * 1000000 / t.k_rows)
                       / r.row_sum)) AS BIGINT) AS wq
  FROM {prev} p
  JOIN rs{k} r ON p.event_type = r.event_type
  CROSS JOIN tot t),
cs{k} AS (
  SELECT dow, CAST(sum(wq) AS BIGINT) AS col_sum
  FROM wr{k} GROUP BY 1),
w{k} AS (
  SELECT p.event_type, p.dow, p.n,
    CAST(round(p.wq * ((CAST(t.n_tot AS DOUBLE) * 1000000 / t.k_cols)
                       / c.col_sum)) AS BIGINT) AS wq
  FROM wr{k} p
  JOIN cs{k} c ON p.dow = c.dow
  CROSS JOIN tot t)"""


_IPF_ORACLE = (
    """
WITH cells AS (
  SELECT event_type,
         (CAST(datediff('day', DATE '1970-01-01', date_trunc('day', ts))
               AS BIGINT) + 3) % 7 AS dow,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
         CAST(count(DISTINCT event_type) AS BIGINT) AS k_rows,
         CAST(count(DISTINCT dow) AS BIGINT) AS k_cols
  FROM cells),
w0 AS (SELECT event_type, dow, n, n * 1000000 AS wq FROM cells),"""
    + ",".join(_ipf_iter_sql(k) for k in range(1, _IPF_ITERS + 1))
    + f"""
, final_rs AS (
  SELECT event_type, CAST(sum(wq) AS BIGINT) AS row_sum
  FROM w{_IPF_ITERS} GROUP BY 1),
err AS (
  SELECT max(abs(CAST(r.row_sum AS DOUBLE)
                 / (CAST(t.n_tot AS DOUBLE) * 1000000 / t.k_rows) - 1.0))
           AS max_row_err
  FROM final_rs r CROSS JOIN tot t)
SELECT w.event_type, CAST(w.dow AS BIGINT) AS dow, w.n,
  round(w.wq / 1e6 / w.n, 6) AS rake_factor,
  round(CAST((SELECT max_row_err FROM err) AS DOUBLE), 6) AS max_row_err
FROM w{_IPF_ITERS} w
"""
)


@register("ipf_raking", oracle=_IPF_ORACLE)
def ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPF raking (iterative proportional fitting): adjust the
    (event_type × weekday) count table to UNIFORM row and column
    margins in {it} unrolled iterations, emitting each cell's rake
    factor (the survey/bias-correction weight) and the residual row-
    margin error — the weighting primitive behind post-stratification
    (quantile_normalize_sources reshapes values; this reshapes
    WEIGHTS).

    Run parity: weights live as 1e-6-grain integers, every scaling
    multiplies by an identically-derived double factor and re-rounds
    ONCE, so the oracle replays both iterations exactly. Scale shape:
    one fact-scale cell aggregate; iterations run on the O(k×7) frame
    with 1-row totals broadcast.
    """.format(it=_IPF_ITERS)
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (
            (
                F.datediff(
                    F.date_trunc("day", F.col("ts")), F.lit("1970-01-01")
                ).cast("long")
                + 3
            )
            % 7
        ).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cells.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.countDistinct("event_type").cast("long").alias("k_rows"),
        F.countDistinct("dow").cast("long").alias("k_cols"),
    )
    w = cells.select(
        "event_type", "dow", "n", (F.col("n") * 1_000_000).alias("wq")
    )
    for _ in range(_IPF_ITERS):
        rs = w.groupBy("event_type").agg(
            F.sum("wq").cast("long").alias("row_sum")
        )
        w = (
            w.join(rs, "event_type")
            .transform(bcast_params, tot)
            .select(
                "event_type",
                "dow",
                "n",
                round_long(
                    F.col("wq")
                    * (
                        (
                            F.col("n_tot").cast("double")
                            * 1_000_000
                            / F.col("k_rows")
                        )
                        / F.col("row_sum")
                    )
                )
                .alias("wq"),
            )
        )
        cs = w.groupBy("dow").agg(F.sum("wq").cast("long").alias("col_sum"))
        # pinned once per iteration: each half-step reads w twice (its
        # margin and the rescale), so unpinned the plan doubled per step
        w = (
            w.join(cs, "dow")
            .transform(bcast_params, tot)
            .select(
                "event_type",
                "dow",
                "n",
                round_long(
                    F.col("wq")
                    * (
                        (
                            F.col("n_tot").cast("double")
                            * 1_000_000
                            / F.col("k_cols")
                        )
                        / F.col("col_sum")
                    )
                )
                .alias("wq"),
            )
            .transform(pin)
        )
    final_rs = w.groupBy("event_type").agg(
        F.sum("wq").cast("long").alias("row_sum")
    )
    err = final_rs.transform(bcast_params, tot).agg(
        F.max(
            F.abs(
                F.col("row_sum").cast("double")
                / (
                    F.col("n_tot").cast("double")
                    * 1_000_000
                    / F.col("k_rows")
                )
                - 1.0
            )
        ).alias("max_row_err")
    )
    return w.transform(bcast_params, err).select(
        "event_type",
        F.col("dow").cast("long").alias("dow"),
        "n",
        F.round(F.col("wq") / 1e6 / F.col("n"), 6).alias("rake_factor"),
        F.round(F.col("max_row_err"), 6).alias("max_row_err"),
    )


# --------------------------------------------------------------------------
# Depth-2 decision tree: exact greedy Gini splits with run parity
# --------------------------------------------------------------------------


def _dt_split_sql(src: str, tag: str) -> str:
    """Best Gini split of relation {src}(cents, pos) -> best{tag}."""
    return f"""
dv{tag} AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM {src} GROUP BY 1),
tot{tag} AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_all, CAST(sum(n_pos) AS BIGINT) AS p_all
  FROM dv{tag}),
cum{tag} AS (
  SELECT cents,
         CAST(sum(n) OVER w AS BIGINT) AS cn,
         CAST(sum(n_pos) OVER w AS BIGINT) AS cp
  FROM dv{tag}
  WINDOW w AS (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
best{tag} AS (
  SELECT cents AS thr, cn AS n_l, cp AS p_l,
         n_all - cn AS n_r, p_all - cp AS p_r,
         (2.0 * cp * (cn - cp) / cn
          + 2.0 * (p_all - cp) * ((n_all - cn) - (p_all - cp))
            / (n_all - cn)) / n_all AS gini
  FROM cum{tag} CROSS JOIN tot{tag}
  WHERE n_all - cn > 0
  ORDER BY gini ASC, thr ASC LIMIT 1)"""


_DT2_ORACLE = (
    """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders),"""
    + _dt_split_sql("base", "_root")
    + ","
    + """
lft AS (SELECT b.cents, b.pos FROM base b CROSS JOIN best_root r
        WHERE b.cents <= r.thr),
rgt AS (SELECT b.cents, b.pos FROM base b CROSS JOIN best_root r
        WHERE b.cents > r.thr),"""
    + _dt_split_sql("lft", "_l")
    + ","
    + _dt_split_sql("rgt", "_r")
    + """
SELECT 'root' AS node, CAST(thr AS BIGINT) AS threshold_cents,
       n_l AS left_n, p_l AS left_pos, n_r AS right_n, p_r AS right_pos,
       round(gini, 6) AS split_gini
FROM best_root
UNION ALL
SELECT 'left', CAST(thr AS BIGINT), n_l, p_l, n_r, p_r, round(gini, 6)
FROM best_l
UNION ALL
SELECT 'right', CAST(thr AS BIGINT), n_l, p_l, n_r, p_r, round(gini, 6)
FROM best_r
"""
)


@register("decision_tree_depth2", oracle=_DT2_ORACLE)
def decision_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact greedy depth-2 decision tree on order value vs the
    fulfilled label: the Gini-optimal root split, then the optimal
    split INSIDE each child (the same exact histogram-cumsum search
    conditioned on the parent) — one row per internal node with its
    threshold, child counts and weighted Gini. Extends decision_stump
    (depth 1) and gbm_stumps (additive stumps) with real tree
    RECURSION under run parity.

    Scale shape: three distinct-value histogram searches (no
    row-scale sort), each one map-side-combinable pass over the
    relevant partition of the facts with the 1-row parent split
    broadcast into the child filters. Gains are identically-shaped
    IEEE doubles over exact BIGINT cumsums with (gini, threshold)
    tie-breaks.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        round_long(F.col("o_totalprice") * 100).alias("cents"),
        (F.col("o_orderstatus") == "F").cast("long").alias("pos"),
    )

    def best_split(df):
        dv = df.groupBy("cents").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
        tot = dv.agg(
            F.sum("n").cast("long").alias("n_all"),
            F.sum("n_pos").cast("long").alias("p_all"),
        )
        cw = Window.orderBy("cents").rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = dv.select(
            "cents",
            F.sum("n").over(cw).cast("long").alias("cn"),
            F.sum("n_pos").over(cw).cast("long").alias("cp"),
        )
        cn, cp = F.col("cn"), F.col("cp")
        na, pa = F.col("n_all"), F.col("p_all")
        gini = (
            2.0 * cp * (cn - cp) / cn
            + 2.0 * (pa - cp) * ((na - cn) - (pa - cp)) / (na - cn)
        ) / na
        return (
            cum.transform(with_scalars, tot)
            .filter(na - cn > 0)
            .select(
                F.col("cents").alias("thr"),
                cn.alias("n_l"),
                cp.alias("p_l"),
                (na - cn).alias("n_r"),
                (pa - cp).alias("p_r"),
                gini.alias("gini"),
            )
            .orderBy(F.asc("gini"), F.asc("thr"))
            .limit(1)
        )

    root = best_split(base)
    lft = base.transform(with_scalars, root.select("thr")).filter(
        F.col("cents") <= F.col("thr")
    ).select("cents", "pos")
    rgt = base.transform(with_scalars, root.select("thr")).filter(
        F.col("cents") > F.col("thr")
    ).select("cents", "pos")

    def row_of(name, split_df):
        return split_df.select(
            F.lit(name).alias("node"),
            F.col("thr").cast("long").alias("threshold_cents"),
            F.col("n_l").alias("left_n"),
            F.col("p_l").alias("left_pos"),
            F.col("n_r").alias("right_n"),
            F.col("p_r").alias("right_pos"),
            F.round(F.col("gini"), 6).alias("split_gini"),
        )

    out = row_of("root", root)
    out = out.unionByName(row_of("left", best_split(lft)))
    out = out.unionByName(row_of("right", best_split(rgt)))
    return out


# --------------------------------------------------------------------------
# Quantile treatment effects: per-decile arm quantile differences
# --------------------------------------------------------------------------

_QTE_ORACLE = """
WITH v AS (
  SELECT user_id % 2 AS arm, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
h AS (
  SELECT arm, cents, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
cum AS (
  SELECT arm, cents,
    CAST(sum(cnt) OVER (PARTITION BY arm ORDER BY cents
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
    CAST(sum(cnt) OVER (PARTITION BY arm) AS BIGINT) AS n
  FROM h),
qs AS (SELECT CAST(q AS BIGINT) AS q FROM generate_series(1, 9) AS g(q)),
pick AS (
  SELECT qs.q, cum.arm, CAST(min(cum.cents) AS BIGINT) AS quant
  FROM qs JOIN cum ON cum.c >= (qs.q * cum.n + 9) // 10
  GROUP BY 1, 2),
wide AS (
  SELECT q,
    max(CASE WHEN arm = 1 THEN quant END) AS qt,
    max(CASE WHEN arm = 0 THEN quant END) AS qc
  FROM pick GROUP BY 1)
SELECT q AS decile,
  round(qt / 100.0, 6) AS q_treat,
  round(qc / 100.0, 6) AS q_ctrl,
  round((qt - qc) / 100.0, 6) AS qte_dollars
FROM wide
"""


@register("quantile_treatment_effects", oracle=_QTE_ORACLE)
def quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the difference between the parity
    arms' purchase-value quantiles at each decile p10…p90 — the
    DISTRIBUTIONAL effect readout (did the treatment move the tails,
    the middle, or everything?) that mean-based ATT estimators
    (psm_att, ratio_metric_delta) collapse to one number.

    Determinism and scale: each arm's deciles are exact ceil-rank
    order statistics ((q·n + 9) div 10) read off the per-arm
    distinct-value histogram cumsums — the levene/kruskal machinery —
    so every QTE is a difference of exact integers. One conditional
    histogram pass; O(deciles × 2) afterwards.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("arm"),
        round_long(F.col("value") * 100).alias("cents"),
    )
    h = v.groupBy("arm", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cw = (
        Window.partitionBy("arm")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    aw = Window.partitionBy("arm")
    cum = h.select(
        "arm",
        "cents",
        F.sum("cnt").over(cw).cast("long").alias("c"),
        F.sum("cnt").over(aw).cast("long").alias("n"),
    )
    qs = spark.range(1, 10).select(F.col("id").cast("long").alias("q"))
    pick = (
        cum.transform(explode_grid, qs)
        .filter(F.col("c") >= F.expr("(q * n + 9) div 10"))
        .groupBy("q", "arm")
        .agg(F.min("cents").cast("long").alias("quant"))
    )
    wide = pick.groupBy("q").agg(
        F.max(F.when(F.col("arm") == 1, F.col("quant"))).alias("qt"),
        F.max(F.when(F.col("arm") == 0, F.col("quant"))).alias("qc"),
    )
    return wide.select(
        F.col("q").alias("decile"),
        F.round(F.col("qt") / 100.0, 6).alias("q_treat"),
        F.round(F.col("qc") / 100.0, 6).alias("q_ctrl"),
        F.round((F.col("qt") - F.col("qc")) / 100.0, 6).alias("qte_dollars"),
    )


# --------------------------------------------------------------------------
# Cost-optimal decision threshold over the propensity score
# --------------------------------------------------------------------------

_CT_FN_COST = 5  # missing a converter costs 5x a wasted contact
_CT_FP_COST = 1

_CT_ORACLE = f"""
WITH hist AS (
  SELECT user_id, count(*) AS n_ev,
         count(*) FILTER (event_type = 'purchase') AS n_p
  FROM events WHERE ts < TIMESTAMP '{_CAL_SPLIT}'
  GROUP BY 1),
fut AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '{_CAL_SPLIT}' AND event_type = 'purchase'),
scored AS (
  SELECT (h.n_p * 1000000) // h.n_ev AS s,
         CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS y
  FROM hist h LEFT JOIN fut f ON h.user_id = f.user_id),
sh AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1),
cum AS (
  SELECT s,
    -- strictly-below counts: predicting positive iff score >= s
    CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS n_below,
    CAST(coalesce(sum(pos) OVER w, 0) AS BIGINT) AS pos_below,
    CAST(sum(n) OVER () AS BIGINT) AS n_tot,
    CAST(sum(pos) OVER () AS BIGINT) AS pos_tot
  FROM sh
  WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING)),
costs AS (
  SELECT s AS threshold_micro,
    pos_below AS fn, (n_below - pos_below) AS tn,
    (pos_tot - pos_below) AS tp,
    (n_tot - n_below) - (pos_tot - pos_below) AS fp,
    {_CT_FN_COST} * pos_below
      + {_CT_FP_COST} * ((n_tot - n_below) - (pos_tot - pos_below)) AS cost
  FROM cum),
best AS (
  SELECT * FROM costs ORDER BY cost ASC, threshold_micro ASC LIMIT 1)
SELECT CAST(threshold_micro AS BIGINT) AS threshold_micro,
  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
  CAST(cost AS BIGINT) AS expected_cost
FROM best
"""


@register("cost_optimal_threshold", oracle=_CT_ORACLE)
def cost_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive decision threshold: sweep every distinct
    propensity-score value as the 'contact if score ≥ t' cutoff and
    pick the one minimizing {fn}·FN + {fp}·FP against second-half
    conversion — the step that turns roc_auc's ranking and
    platt_scaling's probabilities into an OPERATING POINT under an
    asymmetric cost matrix.

    Determinism and scale: the full cost curve is exact integer
    arithmetic on the distinct-score histogram cumsums (the ROC
    machinery); the argmin ties break toward the smaller threshold.
    One per-user reduce; the sweep is O(distinct scores).
    """.format(fn=_CT_FN_COST, fp=_CT_FP_COST)
    scored = _holdout_scores(load_table(spark, sf_dir, "events")).select(
        F.col("s_micro").alias("s"), "y"
    )
    sh = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    bw = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    cum = sh.select(
        "s",
        F.coalesce(F.sum("n").over(bw), F.lit(0)).cast("long").alias(
            "n_below"
        ),
        F.coalesce(F.sum("pos").over(bw), F.lit(0)).cast("long").alias(
            "pos_below"
        ),
        F.sum("n").over(wall).cast("long").alias("n_tot"),
        F.sum("pos").over(wall).cast("long").alias("pos_tot"),
    )
    fn = F.col("pos_below")
    tn = F.col("n_below") - F.col("pos_below")
    tp = F.col("pos_tot") - F.col("pos_below")
    fp = (F.col("n_tot") - F.col("n_below")) - tp
    costs = cum.select(
        F.col("s").alias("threshold_micro"),
        fn.alias("fn"),
        tn.alias("tn"),
        tp.alias("tp"),
        fp.alias("fp"),
        (_CT_FN_COST * fn + _CT_FP_COST * fp).alias("cost"),
    )
    best = costs.orderBy(F.asc("cost"), F.asc("threshold_micro")).limit(1)
    return best.select(
        F.col("threshold_micro").cast("long").alias("threshold_micro"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.col("cost").cast("long").alias("expected_cost"),
    )


# --------------------------------------------------------------------------
# Weibull probability-plot fit over the Kaplan-Meier curve
# --------------------------------------------------------------------------

_WEIBULL_ORACLE = """
WITH u AS (
  SELECT user_id,
    min(date_trunc('day', ts)) AS t0,
    min(CASE WHEN event_type = 'purchase' THEN date_trunc('day', ts) END)
      AS tp,
    max(date_trunc('day', ts)) AS tend
  FROM events GROUP BY 1),
dur AS (
  SELECT user_id,
    date_diff('day', t0, coalesce(tp, tend)) AS t_day,
    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM u),
grp AS (
  SELECT t_day, sum(ev) AS d, sum(1 - ev) AS c FROM dur GROUP BY 1),
risk AS (
  SELECT t_day, d, c,
    (SELECT count(*) FROM dur)
      - coalesce(sum(d + c) OVER (ORDER BY t_day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM grp),
lm AS (
  SELECT t_day, d,
    CASE WHEN d < n_risk THEN
      CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1e6) AS BIGINT)
    ELSE NULL END AS lm_micro
  FROM risk),
surv AS (
  SELECT t_day, d,
    CAST(sum(lm_micro) OVER (ORDER BY t_day) AS BIGINT) AS ls_micro
  FROM lm WHERE lm_micro IS NOT NULL),
pts AS (
  SELECT
    CAST(round(ln(CAST(t_day AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
    CAST(round(ln(-(ls_micro / 1e6)) * 1e6) AS BIGINT) AS ly
  FROM surv
  WHERE t_day > 0 AND d > 0 AND ls_micro < 0),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
         CAST(sum(lx * ly) AS BIGINT) AS sxy,
         CAST(sum(lx * lx) AS BIGINT) AS sxx
  FROM pts)
SELECT n AS n_points,
  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
    AS weibull_shape,
  round(CAST(round(exp(-((CAST(sy AS DOUBLE) * sxx
                          - CAST(sx AS DOUBLE) * sxy)
                         / (CAST(n AS DOUBLE) * sxx
                            - CAST(sx AS DOUBLE) * sx))
                       / ((CAST(n AS DOUBLE) * sxy
                           - CAST(sx AS DOUBLE) * sy)
                          / (CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx)) / 1e6) * 1e6)
             AS BIGINT) / 1e6, 6) AS weibull_scale_days
FROM g
"""


@register("weibull_plot_fit", oracle=_WEIBULL_ORACLE)
def weibull_plot_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull probability-plot fit to the time-to-first-purchase
    survival curve: regress ln(−ln S(t)) on ln t over the
    Kaplan-Meier event days — the slope is the Weibull shape k
    (k < 1 = early-conversion burn-in, k > 1 = wear-in) and
    exp(−intercept/k) the scale in days — the parametric overlay that
    turns kaplan_meier's curve into two interpretable numbers.

    Determinism and scale: the exact KM machinery (same duration
    reduce, same micro-rounded log factors) feeds O(event days)
    probability-plot points; plot logs micro-round once each, OLS
    runs on exact integer Gram sums, and the scale's single exp()
    output micro-rounds once.
    """
    lm = _risk_table(_durations(load_table(spark, sf_dir, "events"))).filter(
        F.col("lm_micro").isNotNull()
    )
    cw = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    surv = lm.select(
        "t_day",
        "d",
        F.sum("lm_micro").over(cw).cast("long").alias("ls_micro"),
    )
    pts = surv.filter(
        (F.col("t_day") > 0) & (F.col("d") > 0) & (F.col("ls_micro") < 0)
    ).select(
        round_long(F.log(F.col("t_day").cast("double")) * 1e6)
        .alias("lx"),
        round_long(F.log(-(F.col("ls_micro") / 1e6)) * 1e6)
        .alias("ly"),
    )
    g = pts.agg(*moment_sums(F.col("lx"), F.col("ly")))
    det = scaled_comoment("n", "sxx", "sx", "sx")
    slope = scaled_comoment("n", "sxy", "sx", "sy") / det
    intercept = (
        F.col("sy").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sxy")
    ) / det
    scale = r6(F.exp(-intercept / slope / 1e6))
    return g.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("weibull_shape"),
        F.round(scale, 6).alias("weibull_scale_days"),
    )


# --------------------------------------------------------------------------
# Inverse-propensity-weighted ATE (Horvitz-Thompson, stratum propensity)
# --------------------------------------------------------------------------

_IPW_ORACLE = """
WITH u AS (
  SELECT user_id,
    CAST(count(*) AS BIGINT) AS score,
    CAST(CASE WHEN 5 * sum(CASE WHEN event_type = 'error'
                               THEN 1 ELSE 0 END) > count(*)
         THEN 1 ELSE 0 END AS BIGINT) AS treated,
    CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1),
strata AS (
  SELECT score // 10 AS stratum,
    CAST(count(*) AS BIGINT) AS n_s,
    CAST(sum(treated) AS BIGINT) AS t_s
  FROM u GROUP BY 1),
ok AS (SELECT stratum, n_s, t_s FROM strata
       WHERE t_s > 0 AND t_s < n_s),
terms AS (
  SELECT u.user_id,
    CAST(round(
      CASE WHEN u.treated = 1
           THEN u.y * (CAST(o.n_s AS DOUBLE) / o.t_s)
           ELSE -u.y * (CAST(o.n_s AS DOUBLE) / (o.n_s - o.t_s)) END
      * 1e2) AS BIGINT) AS term
  FROM u JOIN ok o ON u.score // 10 = o.stratum),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_used,
         CAST(sum(term) AS BIGINT) AS term_sum
  FROM terms),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM u)
SELECT t.n_all, s.n_used,
  round(CAST(s.term_sum AS DOUBLE) / s.n_used / 1e4, 6) AS ate_dollars
FROM s CROSS JOIN tot t
"""


@register("ipw_ate", oracle=_IPW_ORACLE)
def ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE (Horvitz-Thompson) of heavy
    error exposure on purchase spend: the propensity is estimated per
    ACTIVITY-DECADE stratum (score div 10) as the stratum's treated
    share, each user contributes y/p̂ (treated) or −y/(1−p̂)
    (control), and strata with no overlap drop out — the WEIGHTING
    member of the causal family beside psm_att (matching); the two
    agreeing is the standard robustness check.

    Determinism and scale: stratum propensities are single IEEE
    divisions of exact counts; each user's HT term micro-rounds ONCE
    (1e-2-cent grain) and sums exactly. One per-user reduce, one
    O(strata) aggregate broadcast back.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("score"),
        (
            5 * F.sum((F.col("event_type") == "error").cast("long"))
            > F.count(F.lit(1))
        )
        .cast("long")
        .alias("treated"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                round_long(F.col("value") * 100),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    ).withColumn("stratum", F.expr("score div 10"))
    strata = u.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("treated").cast("long").alias("t_s"),
    )
    ok = strata.filter(
        (F.col("t_s") > 0) & (F.col("t_s") < F.col("n_s"))
    )
    ht = F.when(
        F.col("treated") == 1,
        F.col("y") * (F.col("n_s").cast("double") / F.col("t_s")),
    ).otherwise(
        -F.col("y")
        * (F.col("n_s").cast("double") / (F.col("n_s") - F.col("t_s")))
    )
    terms = u.join(F.broadcast(ok), "stratum").select(
        round_long(ht * 1e2).alias("term")
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.sum("term").cast("long").alias("term_sum"),
    )
    tot = u.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    return s.transform(with_scalars, tot).select(
        "n_all",
        "n_used",
        F.round(
            F.col("term_sum").cast("double") / F.col("n_used") / 1e4, 6
        ).alias("ate_dollars"),
    )


# --------------------------------------------------------------------------
# Doubly-robust (AIPW) ATE: outcome regression + IPW correction
# --------------------------------------------------------------------------

_AIPW_ORACLE = """
WITH u AS (
  SELECT user_id,
    CAST(count(*) AS BIGINT) AS score,
    CAST(CASE WHEN 5 * sum(CASE WHEN event_type = 'error'
                               THEN 1 ELSE 0 END) > count(*)
         THEN 1 ELSE 0 END AS BIGINT) AS treated,
    CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1),
strata AS (
  SELECT score // 10 AS stratum,
    CAST(count(*) AS BIGINT) AS n_s,
    CAST(sum(treated) AS BIGINT) AS t_s,
    CAST(sum(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
    CAST(sum(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0
  FROM u GROUP BY 1),
ok AS (SELECT * FROM strata WHERE t_s > 0 AND t_s < n_s),
terms AS (
  SELECT u.user_id,
    CAST(round((
      CAST(o.sy1 AS DOUBLE) / o.t_s - CAST(o.sy0 AS DOUBLE) / (o.n_s - o.t_s)
      + CASE WHEN u.treated = 1
             THEN (u.y - CAST(o.sy1 AS DOUBLE) / o.t_s)
                  * (CAST(o.n_s AS DOUBLE) / o.t_s)
             ELSE -(u.y - CAST(o.sy0 AS DOUBLE) / (o.n_s - o.t_s))
                  * (CAST(o.n_s AS DOUBLE) / (o.n_s - o.t_s)) END
    ) * 1e2) AS BIGINT) AS term
  FROM u JOIN ok o ON u.score // 10 = o.stratum),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_used,
         CAST(sum(term) AS BIGINT) AS term_sum
  FROM terms),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM u)
SELECT t.n_all, s.n_used,
  round(CAST(s.term_sum AS DOUBLE) / s.n_used / 1e4, 6)
    AS ate_dollars_aipw
FROM s CROSS JOIN tot t
"""


@register("aipw_ate", oracle=_AIPW_ORACLE)
def aipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) ATE of heavy error exposure on purchase
    spend: per activity stratum, the outcome-regression difference
    m̂₁ − m̂₀ (arm means) plus the inverse-propensity-weighted
    residual correction — consistent if EITHER the outcome model OR
    the propensity model is right, the modern default that caps the
    causal family (psm_att = matching, ipw_ate = weighting,
    aipw_ate = both).

    Determinism and scale: stratum arm means and propensities are
    single IEEE divisions of exact counts/sums; each user's AIPW term
    micro-rounds ONCE and sums exactly. One per-user reduce, one
    O(strata) aggregate broadcast back.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("score"),
        (
            5 * F.sum((F.col("event_type") == "error").cast("long"))
            > F.count(F.lit(1))
        )
        .cast("long")
        .alias("treated"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                round_long(F.col("value") * 100),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    ).withColumn("stratum", F.expr("score div 10"))
    strata = u.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("treated").cast("long").alias("t_s"),
        F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy1"),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy0"),
    )
    ok = strata.filter((F.col("t_s") > 0) & (F.col("t_s") < F.col("n_s")))
    m1 = F.col("sy1").cast("double") / F.col("t_s")
    m0 = F.col("sy0").cast("double") / (F.col("n_s") - F.col("t_s"))
    corr = F.when(
        F.col("treated") == 1,
        (F.col("y") - m1) * (F.col("n_s").cast("double") / F.col("t_s")),
    ).otherwise(
        -(F.col("y") - m0)
        * (F.col("n_s").cast("double") / (F.col("n_s") - F.col("t_s")))
    )
    terms = u.join(F.broadcast(ok), "stratum").select(
        round_long((m1 - m0 + corr) * 1e2).alias("term")
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.sum("term").cast("long").alias("term_sum"),
    )
    tot = u.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    return s.transform(with_scalars, tot).select(
        "n_all",
        "n_used",
        F.round(
            F.col("term_sum").cast("double") / F.col("n_used") / 1e4, 6
        ).alias("ate_dollars_aipw"),
    )


# --------------------------------------------------------------------------
# UCB1 bandit policy replay over daily arm rewards (run parity)
# --------------------------------------------------------------------------

_UCB_ORACLE = """
WITH RECURSIVE sparse AS (
  SELECT date_trunc('day', ts) AS day, event_type AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
-- densify to the full day x arm grid (round-7 tiny fuzz): an arm
-- with no traffic earned 0 cents that day
daily AS (
  SELECT g.day, g.arm, CAST(coalesce(x.cents, 0) AS BIGINT) AS cents
  FROM (SELECT d.day, a.arm
        FROM (SELECT DISTINCT day FROM sparse) d
        CROSS JOIN (SELECT DISTINCT arm FROM sparse) a) g
  LEFT JOIN sparse x ON g.day = x.day AND g.arm = x.arm),
-- reward: did the arm's daily total reach the day's 5-arm lower median?
meds AS (
  SELECT day, CAST((list_sort(list(cents)))[3] AS BIGINT) AS med
  FROM daily GROUP BY 1),
rw AS (
  SELECT d.day, list(CASE WHEN d.cents >= m.med THEN 1 ELSE 0 END
                     ORDER BY d.arm) AS r
  FROM daily d JOIN meds m ON d.day = m.day
  GROUP BY 1),
arms AS (SELECT list(DISTINCT arm ORDER BY arm) AS names FROM daily),
seq AS (
  SELECT day, r, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n_days
  FROM rw),
rec AS (
  SELECT CAST(1 AS BIGINT) AS t,
         (SELECT [CAST(1 AS BIGINT), 1, 1, 1, 1]) AS n,
         (SELECT list_transform(r, x -> CAST(x AS BIGINT))
          FROM seq WHERE t = 1) AS s,
         CAST(NULL AS BIGINT) AS chosen,
         CAST(NULL AS BIGINT) AS reward
  UNION ALL
  SELECT q.t,
    list_transform(range(1, 6), i ->
      r.n[i] + CASE WHEN i = CAST((list_sort(list_transform(range(1, 6), j ->
      [-(CAST(round(CAST(r.s[j] AS DOUBLE) / r.n[j] * 1e6) AS BIGINT)
         + CAST(round(sqrt(2.0 * ln(CAST(q.t AS DOUBLE)) / r.n[j]) * 1e6)
                AS BIGINT)), j])))[1][2] AS BIGINT) THEN 1 ELSE 0 END),
    list_transform(range(1, 6), i ->
      r.s[i] + CASE WHEN i = CAST((list_sort(list_transform(range(1, 6), j ->
      [-(CAST(round(CAST(r.s[j] AS DOUBLE) / r.n[j] * 1e6) AS BIGINT)
         + CAST(round(sqrt(2.0 * ln(CAST(q.t AS DOUBLE)) / r.n[j]) * 1e6)
                AS BIGINT)), j])))[1][2] AS BIGINT) THEN q.r[i] ELSE 0 END),
    CAST((list_sort(list_transform(range(1, 6), j ->
      [-(CAST(round(CAST(r.s[j] AS DOUBLE) / r.n[j] * 1e6) AS BIGINT)
         + CAST(round(sqrt(2.0 * ln(CAST(q.t AS DOUBLE)) / r.n[j]) * 1e6)
                AS BIGINT)), j])))[1][2] AS BIGINT) AS chosen,
    CAST(q.r[CAST((list_sort(list_transform(range(1, 6), j ->
      [-(CAST(round(CAST(r.s[j] AS DOUBLE) / r.n[j] * 1e6) AS BIGINT)
         + CAST(round(sqrt(2.0 * ln(CAST(q.t AS DOUBLE)) / r.n[j]) * 1e6)
                AS BIGINT)), j])))[1][2] AS BIGINT)] AS BIGINT)
  FROM rec r
  JOIN seq q ON q.t = r.t + 1),
path AS (
  SELECT r.t, q.day, r.chosen, r.reward
  FROM rec r JOIN seq q ON q.t = r.t
  WHERE r.chosen IS NOT NULL
    -- the replay is defined on the full 5-arm universe (round-7
    -- one-type fuzz): fewer distinct arms -> zero rows, both engines
    AND (SELECT count(DISTINCT arm) FROM daily) = 5),
best AS (
  -- best fixed arm in hindsight over the decision days (t >= 2)
  SELECT max(tot) AS best_tot FROM (
    SELECT i, CAST(sum(q.r[i]) AS BIGINT) AS tot
    FROM seq q, range(1, 6) AS g(i)
    WHERE q.t >= 2 GROUP BY 1))
SELECT p.day, a.names[p.chosen] AS chosen_arm, p.reward,
  CAST(sum(p.reward) OVER (ORDER BY p.t
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_reward,
  CAST(b.best_tot AS BIGINT) AS best_fixed_total
FROM path p CROSS JOIN best b CROSS JOIN arms a
"""


@register("ucb1_bandit_replay", oracle=_UCB_ORACLE)
def ucb1_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit policy replay: arms = event types, a day's reward
    for an arm = 1 if its daily value total reached the day's 5-arm
    lower median. Day 1 initializes every arm once; each later day
    the policy plays argmax of mean + √(2 ln t / n) (both terms
    micro-rounded ONCE so the argmax is exact integer arithmetic,
    ties → first arm alphabetically) and observes only the chosen
    arm's reward — offline policy evaluation with the
    best-fixed-arm-in-hindsight total for regret readoff. The
    sequential-decision sibling of the run-parity recursion family
    (HMM, Viterbi, EM, Newton, GBM).

    Scale shape: one daily (arm, day) aggregate; rewards derive from
    the exact 5-element lower median per day; the policy folds over
    the O(days) sequence with 10 integers of state.
    """
    e = spread(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("event_type").alias("arm"),
    ).agg(
        F.sum(round_long(F.col("value") * 100))
        .cast("long")
        .alias("cents")
    )
    # the replay hard-codes the 5-arm universe (median index, UCB
    # state width); a stream with fewer distinct types (round-7
    # one-type fuzz) has no defined policy — zero rows, both engines
    # (one cheap O(types) pre-count, the anderson_ksamp guard family)
    if daily.agg(F.countDistinct("arm")).first()[0] != 5:
        return spark.createDataFrame(
            [],
            "day timestamp, chosen_arm string, reward bigint,"
            " cum_reward bigint, best_fixed_total bigint",
        )
    # densify to the full day x 5-arm grid (round-7 tiny fuzz: a day
    # missing an arm produced a short reward vector and an
    # out-of-bounds policy index) — an arm with no traffic earned 0
    # cents that day; the 5-row arm dim broadcasts (attributed BNLJ)
    daily = (
        daily.select("day")
        .distinct()
        .crossJoin(F.broadcast(daily.select("arm").distinct()))
        .join(daily, ["day", "arm"], "left")
        .select(
            "day", "arm", F.coalesce("cents", F.lit(0)).alias("cents")
        )
    )
    per_day = daily.groupBy("day").agg(
        F.sort_array(F.collect_list(F.struct("arm", "cents"))).alias("ac")
    )
    cents_arr = F.transform(F.col("ac"), lambda x: x["cents"])
    med = F.array_sort(cents_arr)[2]
    rw = per_day.select(
        "day",
        F.transform(
            F.col("ac"), lambda x: (x["cents"] >= med).cast("long")
        ).alias("r"),
    )
    arms = daily.agg(
        F.array_sort(F.collect_set("arm")).alias("names")
    )
    seq = rw.agg(
        F.sort_array(F.collect_list(F.struct("day", "r"))).alias("days")
    )
    ones = F.array(*[F.lit(1).cast("long") for _ in range(5)])
    init = F.struct(
        ones.alias("n"),
        F.expr("transform(days[0].r, x -> CAST(x AS BIGINT))").alias("s"),
        F.array()
        .cast("array<struct<day:timestamp,chosen:bigint,reward:bigint>>")
        .alias("path"),
        F.lit(1).cast("long").alias("t"),
    )
    rest = F.expr("slice(days, 2, size(days) - 1)")

    def step(acc, d):
        t_next = acc["t"] + 1
        idx = F.sequence(F.lit(1), F.lit(5))
        scores = F.transform(
            idx,
            lambda i: round_long(
                F.element_at(acc["s"], i).cast("double")
                / F.element_at(acc["n"], i)
                * 1e6
            )
            + round_long(
                F.sqrt(
                    2.0
                    * F.log(t_next.cast("double"))
                    / F.element_at(acc["n"], i)
                )
                * 1e6
            ),
        )
        pairs = F.transform(
            idx,
            lambda i: F.struct(
                (-F.element_at(scores, i)).alias("neg"), i.alias("i")
            ),
        )
        a = F.array_sort(pairs)[0]["i"]
        reward = F.element_at(d["r"], a).cast("long")
        return F.struct(
            F.transform(
                idx,
                lambda i: F.element_at(acc["n"], i)
                + F.when(i == a, 1).otherwise(0),
            ).alias("n"),
            F.transform(
                idx,
                lambda i: F.element_at(acc["s"], i)
                + F.when(i == a, F.element_at(d["r"], i)).otherwise(0),
            ).alias("s"),
            F.concat(
                acc["path"],
                F.array(
                    F.struct(
                        d["day"].alias("day"),
                        a.cast("bigint").alias("chosen"),
                        reward.alias("reward"),
                    )
                ),
            ).alias("path"),
            t_next.alias("t"),
        )

    folded = seq.select(
        F.aggregate(rest, init, step)["path"].alias("path"), "days"
    )
    best = folded.select(
        F.expr(
            "(SELECT max(tot) FROM ("
            "  SELECT aggregate(slice(days, 2, size(days) - 1),"
            "    CAST(0 AS BIGINT), (acc, d) -> acc + d.r[i - 1]) AS tot"
            "  FROM (SELECT explode(sequence(1, 5)) AS i)))"
        ).alias("best_tot"),
        "path",
    )
    rows = best.select(
        F.col("best_tot"), F.posexplode("path").alias("i", "p")
    )
    cw = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    out = rows.select(
        F.col("p.day").alias("day"),
        F.col("p.chosen").alias("chosen_idx"),
        F.col("p.reward").alias("reward"),
        F.sum("p.reward").over(cw).cast("long").alias("cum_reward"),
        F.col("best_tot").cast("long").alias("best_fixed_total"),
    )
    return out.transform(bcast_params, arms).select(
        "day",
        F.element_at(F.col("names"), F.col("chosen_idx").cast("int")).alias(
            "chosen_arm"
        ),
        "reward",
        "cum_reward",
        "best_fixed_total",
    )


# --------------------------------------------------------------------------
# Greenwood confidence bands for the Kaplan-Meier curve
# --------------------------------------------------------------------------

_GW_Z = "1.959963985e0"

_GREENWOOD_ORACLE = f"""
WITH u AS (
  SELECT user_id,
    min(date_trunc('day', ts)) AS t0,
    min(CASE WHEN event_type = 'purchase' THEN date_trunc('day', ts) END)
      AS tp,
    max(date_trunc('day', ts)) AS tend
  FROM events GROUP BY 1),
dur AS (
  SELECT date_diff('day', t0, coalesce(tp, tend)) AS t_day,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM u),
grp AS (
  SELECT t_day, CAST(sum(ev) AS BIGINT) AS d,
         CAST(sum(1 - ev) AS BIGINT) AS c
  FROM dur GROUP BY 1),
risk AS (
  SELECT t_day, d, c,
    CAST((SELECT count(*) FROM dur)
      - coalesce(sum(d + c) OVER (ORDER BY t_day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS n_risk
  FROM grp),
lm AS (
  SELECT t_day, d, c, n_risk,
    CASE WHEN d < n_risk THEN
      CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1e6) AS BIGINT)
    END AS lm_micro,
    CASE WHEN d < n_risk AND d > 0 THEN
      CAST(round(CAST(d AS DOUBLE)
                 / (CAST(n_risk AS DOUBLE) * (n_risk - d)) * 1e9) AS BIGINT)
    ELSE 0 END AS g_nano
  FROM risk),
curve AS (
  SELECT t_day, n_risk, d, c,
    exp(CAST(sum(lm_micro) OVER w AS DOUBLE) / 1e6) AS surv,
    CAST(sum(g_nano) OVER w AS BIGINT) AS g_cum
  FROM lm WHERE lm_micro IS NOT NULL
  WINDOW w AS (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW))
SELECT t_day, n_risk, d AS n_event,
  round(surv, 6) AS surv,
  round(surv * sqrt(g_cum / 1e9), 6) AS greenwood_se,
  round(greatest(surv - CAST('{_GW_Z}' AS DOUBLE)
                 * surv * sqrt(g_cum / 1e9), 0.0), 6) AS ci_lo,
  round(least(surv + CAST('{_GW_Z}' AS DOUBLE)
              * surv * sqrt(g_cum / 1e9), 1.0), 6) AS ci_hi
FROM curve
"""


@register("km_greenwood_bands", oracle=_GREENWOOD_ORACLE)
def km_greenwood_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwood 95% confidence bands for the Kaplan-Meier
    time-to-first-purchase curve: SE(Ŝ) = Ŝ·√(Σ d/(n(n−d))) with the
    plain-scale Wald band clamped to [0, 1] — the uncertainty overlay
    kaplan_meier's point curve needs before anyone compares two
    cohorts by eye (log_rank_test is the formal comparison).

    Determinism and scale: same duration reduce and at-risk cumsums
    as kaplan_meier; the log-survival factors micro-round once and
    the Greenwood variance terms nano-round once, both cumulating
    exactly; the z constant is a shared literal.
    """
    risk = _risk_table(_durations(load_table(spark, sf_dir, "events")))
    lm = risk.select(
        "t_day",
        "d",
        "n_risk",
        "lm_micro",
        F.when(
            (F.col("d") < F.col("n_risk")) & (F.col("d") > 0),
            round_long(
                F.col("d").cast("double")
                / (
                    F.col("n_risk").cast("double")
                    * (F.col("n_risk") - F.col("d"))
                )
                * 1e9
            ),
        )
        .otherwise(F.lit(0))
        .alias("g_nano"),
    ).filter(F.col("lm_micro").isNotNull())
    cw = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    curve = lm.select(
        "t_day",
        "n_risk",
        "d",
        F.exp(F.sum("lm_micro").over(cw).cast("double") / 1e6).alias("surv"),
        F.sum("g_nano").over(cw).cast("long").alias("g_cum"),
    )
    se = F.col("surv") * F.sqrt(F.col("g_cum") / 1e9)
    z = F.expr(f"CAST('{_GW_Z}' AS DOUBLE)")
    return curve.select(
        "t_day",
        "n_risk",
        F.col("d").alias("n_event"),
        F.round(F.col("surv"), 6).alias("surv"),
        F.round(se, 6).alias("greenwood_se"),
        F.round(F.greatest(F.col("surv") - z * se, F.lit(0.0)), 6).alias(
            "ci_lo"
        ),
        F.round(F.least(F.col("surv") + z * se, F.lit(1.0)), 6).alias(
            "ci_hi"
        ),
    )


# --------------------------------------------------------------------------
# Lorenz asymmetry coefficient of per-user spend
# --------------------------------------------------------------------------

_LAC_ORACLE = """
WITH u AS (
  SELECT user_id,
    CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
         AS BIGINT) AS y
  FROM events GROUP BY 1),
h AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(cnt * y) AS BIGINT) AS s
  FROM h),
below AS (
  SELECT
    CAST(sum(CASE WHEN h.y * t.n < t.s THEN h.cnt ELSE 0 END) AS BIGINT)
      AS n_below,
    CAST(sum(CASE WHEN h.y * t.n < t.s THEN h.cnt * h.y ELSE 0 END)
         AS BIGINT) AS s_below,
    CAST(sum(CASE WHEN h.y * t.n = t.s THEN h.cnt ELSE 0 END) AS BIGINT)
      AS n_at
  FROM h CROSS JOIN tot t),
k AS (
  SELECT t.n, t.s, b.n_below, b.s_below, b.n_at,
    (CAST(b.n_below AS DOUBLE) + b.n_at / 2.0) / t.n AS f_mu,
    (CAST(b.s_below AS DOUBLE)
     + b.n_at / 2.0 * (CAST(t.s AS DOUBLE) / t.n)) / t.s AS l_mu
  FROM tot t CROSS JOIN below b WHERE t.s > 0)
SELECT n AS n_users, n_below, n_at,
  round(f_mu, 6) AS f_mu,
  round(l_mu, 6) AS l_mu,
  round(f_mu + l_mu, 6) AS lorenz_asymmetry
FROM k
"""


@register("lorenz_asymmetry", oracle=_LAC_ORACLE)
def lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz asymmetry coefficient S = F(μ) + L(μ) of per-user spend:
    the fraction of users below the mean plus their wealth share
    (ties at the mean counted half, Damgaard-Weiner convention) —
    S < 1 says inequality comes from a few very large spenders, S > 1
    from many very small ones: the SHAPE diagnostic the Gini
    coefficient (gini_concentration) cannot distinguish.

    Determinism and scale: the below-mean test compares exact
    integers (y·n < Σy — no float mean); counts and wealth sums come
    off the spend histogram; the two final shares are single IEEE
    divisions.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                round_long(F.col("value") * 100),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y")
    )
    h = u.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = h.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt") * F.col("y")).cast("long").alias("s"),
    )
    j = h.transform(with_scalars, tot)
    below = j.agg(
        F.any_value("n").cast("long").alias("n"),
        F.any_value("s").cast("long").alias("s"),
        F.sum(
            F.when(F.col("y") * F.col("n") < F.col("s"), F.col("cnt")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_below"),
        F.sum(
            F.when(
                F.col("y") * F.col("n") < F.col("s"),
                F.col("cnt") * F.col("y"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("s_below"),
        F.sum(
            F.when(F.col("y") * F.col("n") == F.col("s"), F.col("cnt")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_at"),
    )
    f_mu = (F.col("n_below").cast("double") + F.col("n_at") / 2.0) / F.col("n")
    l_mu = (
        F.col("s_below").cast("double")
        + F.col("n_at") / 2.0 * (F.col("s").cast("double") / F.col("n"))
    ) / F.col("s")
    # zero total spend (round-7 one-type fuzz: no purchases at all):
    # the Lorenz curve is undefined — zero rows on both engines
    below = below.filter(F.col("s") > 0)
    return below.select(
        F.col("n").alias("n_users"),
        "n_below",
        "n_at",
        F.round(f_mu, 6).alias("f_mu"),
        F.round(l_mu, 6).alias("l_mu"),
        F.round(f_mu + l_mu, 6).alias("lorenz_asymmetry"),
    )


# --------------------------------------------------------------------------
# Memorylessness check: are inter-event gaps exponential?
# --------------------------------------------------------------------------

_MEM_ORACLE = """
WITH gaps AS (
  SELECT epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events),
g2 AS (SELECT CAST(g AS BIGINT) AS g FROM gaps WHERE g IS NOT NULL AND g > 0),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(g) AS BIGINT) AS s
  FROM g2),
counts AS (
  SELECT m.n, m.s,
    CAST(sum(CASE WHEN g2.g * m.n > m.s THEN 1 ELSE 0 END) AS BIGINT)
      AS n_gt1,
    CAST(sum(CASE WHEN g2.g * m.n > 2 * m.s THEN 1 ELSE 0 END) AS BIGINT)
      AS n_gt2
  FROM g2 CROSS JOIN m GROUP BY 1, 2)
SELECT n AS n_gaps,
  round(CAST(s AS DOUBLE) / n / 1e6, 6) AS mean_gap_sec,
  round(CAST(n_gt1 AS DOUBLE) / n, 6) AS p_gt_mean,
  round(CAST(n_gt2 AS DOUBLE) / n, 6) AS p_gt_2mean,
  -- memoryless <=> P(G>2m) = P(G>m)^2; report the ratio
  round((CAST(n_gt2 AS DOUBLE) / n)
        / ((CAST(n_gt1 AS DOUBLE) / n) * (CAST(n_gt1 AS DOUBLE) / n)), 6)
    AS memoryless_ratio
FROM counts
"""


@register("memorylessness_check", oracle=_MEM_ORACLE)
def memorylessness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorylessness check on per-user inter-event gaps: under an
    exponential (Poisson-process) model P(G > 2m) = P(G > m)², so the
    ratio P(G>2m)/P(G>m)² reads 1 for memoryless traffic, > 1 for
    heavy-tailed/bursty gaps (sessions!), < 1 for regular arrivals —
    the one-number screen that justifies (or kills) every
    exponential-arrival assumption downstream (sessionization gaps,
    queueing estimates), complementing burstiness_stats.

    Determinism and scale: gaps come from one per-user ordered lag
    (bounded partitions); the threshold tests compare exact integers
    (g·n vs Σg and 2Σg — no float mean); three counts, one reduce.
    """
    from dissertation_iceberg_spark.functions.time_bins import micros

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = micros("ts")
    gaps = e.select((us - F.lag(us).over(w)).alias("g")).filter(
        F.col("g").isNotNull() & (F.col("g") > 0)
    )
    m = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("s"),
    )
    counts = gaps.transform(with_scalars, m).agg(
        F.any_value("n").cast("long").alias("n"),
        F.any_value("s").cast("long").alias("s"),
        F.sum((F.col("g") * F.col("n") > F.col("s")).cast("long"))
        .cast("long")
        .alias("n_gt1"),
        F.sum((F.col("g") * F.col("n") > 2 * F.col("s")).cast("long"))
        .cast("long")
        .alias("n_gt2"),
    )
    p1 = F.col("n_gt1").cast("double") / F.col("n")
    p2 = F.col("n_gt2").cast("double") / F.col("n")
    return counts.select(
        F.col("n").alias("n_gaps"),
        F.round(F.col("s").cast("double") / F.col("n") / 1e6, 6).alias(
            "mean_gap_sec"
        ),
        F.round(p1, 6).alias("p_gt_mean"),
        F.round(p2, 6).alias("p_gt_2mean"),
        F.round(p2 / (p1 * p1), 6).alias("memoryless_ratio"),
    )
