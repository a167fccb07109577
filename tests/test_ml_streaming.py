"""ML pipeline (M1-M6), multimodal plumbing, LSH ANN, and the
Structured Streaming OI variant — rows-only / self-consistency checks
(these operators have no SQL oracle; SURVEY §5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def featured(spark, sf_dir):
    from dissertation_iceberg_spark.io import lob_events
    from dissertation_iceberg_spark.ml.pipeline import direction_label

    df = lob_events(spark, sf_dir).withColumn(
        "log_value", F.log("value")
    ).withColumn("hour_of_day", F.hour("ts").cast("double"))
    return direction_label(df).cache()


FEATURES = ["value", "log_value", "hour_of_day"]


def test_rf_train_predict(featured):
    from dissertation_iceberg_spark.ml.pipeline import (
        evaluate_binary,
        feature_importances,
        predict_direction,
        train_rf,
    )

    model = train_rf(featured, FEATURES)
    pred = predict_direction(model, featured)
    rows = pred.select("pred_dir", "pred_prob", "label").toPandas()
    assert set(rows.pred_dir.unique()) <= {-1, 1}
    assert ((rows.pred_prob >= 0) & (rows.pred_prob <= 1)).all()
    # M4 threshold consistency
    assert ((rows.pred_prob > 0.5) == (rows.pred_dir == 1)).all()
    metrics = evaluate_binary(pred)
    assert 0.0 <= metrics["accuracy"] <= 1.0
    imp = feature_importances(model, FEATURES)
    assert set(imp) == set(FEATURES)
    assert abs(sum(imp.values()) - 1.0) < 1e-6


def test_boosted_and_logistic(featured):
    from dissertation_iceberg_spark.ml.pipeline import (
        predict_direction,
        train_boosted,
        train_logistic,
    )

    small = featured.limit(400).cache()
    for trainer in (train_boosted, train_logistic):
        model = trainer(small, FEATURES)
        pred = predict_direction(model, small)
        assert pred.count() == 400


def test_xgboost_reference_params_exact(featured):
    """M3 parity path: SparkXGBClassifier must receive the reference's
    exact hyperparameters (test_workflow.py:56-64). Skipped while the
    container lacks xgboost; lights up with zero code changes when the
    environment gains it."""
    xgboost_spark = pytest.importorskip("xgboost.spark")

    from dissertation_iceberg_spark.ml.pipeline import (
        XGB_REFERENCE_PARAMS,
        predict_direction,
        train_boosted,
    )

    # pin the translated param dict itself against the reference values
    assert XGB_REFERENCE_PARAMS == {
        "objective": "binary:logistic",
        "learning_rate": 0.1,
        "max_depth": 6,
        "subsample": 0.8,
        "colsample_bytree": 0.8,
        "n_estimators": 100,
        "eval_metric": "logloss",
    }
    assert xgboost_spark is not None
    small = featured.limit(400).cache()
    model = train_boosted(small, FEATURES)
    est = model.stages[-1]
    assert type(est).__module__.startswith("xgboost"), (
        "xgboost importable but train_boosted did not use SparkXGBClassifier"
    )
    pred = predict_direction(model, small)
    assert pred.count() == 400


def test_multimodal_features(spark):
    from dissertation_iceberg_spark.operators.multimodal import (
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=48)
    feats = extract_features(media, dim=8).toPandas()
    assert len(feats) == 48
    assert feats.feature.map(len).eq(8).all()
    # histogram features are normalized
    assert feats.feature.map(sum).sub(1.0).abs().lt(1e-6).all()
    assert (feats.n_bytes > 0).all()


def test_video_frame_sampling(spark):
    from dissertation_iceberg_spark.operators.multimodal import (
        sample_frames,
        synthetic_media,
        video_features,
    )

    media = synthetic_media(spark, n=30)  # 10 of each kind
    frames = sample_frames(media, n_frames=4).toPandas()
    # only video rows explode, each into exactly n_frames rows
    assert len(frames) == 10 * 4
    per = frames.groupby("media_id").frame_idx.apply(list)
    assert per.map(lambda v: sorted(v) == [0, 1, 2, 3]).all()
    # offsets evenly spaced over duration_ms=1000, endpoints exact
    one = frames[frames.media_id == frames.media_id.min()].sort_values("frame_idx")
    assert list(one.offset_ms) == [0, 333, 667, 1000]
    assert (frames.frame_payload.map(len) > 0).all()

    # mean-pooled video features: one row per video, fixed dim,
    # equal to the hand-computed mean of per-frame histograms
    vf = video_features(media, n_frames=4, dim=8).toPandas()
    assert len(vf) == 10
    assert (vf.n_frames == 4).all()
    assert vf.feature.map(len).eq(8).all()
    from dissertation_iceberg_spark.operators.multimodal import (
        _fake_decode_features,
    )

    mid = int(vf.media_id.iloc[0])
    mine = frames[frames.media_id == mid].sort_values("frame_idx")
    manual = [
        sum(col) / 4
        for col in zip(
            *(_fake_decode_features(p, 8) for p in mine.frame_payload)
        )
    ]
    got = vf.set_index("media_id").loc[mid, "feature"]
    assert max(abs(a - b) for a, b in zip(got, manual)) < 1e-6


def test_decode_image_guard(spark):
    from dissertation_iceberg_spark.operators.multimodal import (
        decode_image_features,
    )

    # container has no PIL → deterministic fallback with dim size[0]+1
    out = decode_image_features(b"\x01\x02\x03\x04" * 8, size=(8, 8))
    assert len(out) == 9
    assert out == decode_image_features(b"\x01\x02\x03\x04" * 8, size=(8, 8))
    assert decode_image_features(None) == [0.0] * 9


def test_ivf_index_roundtrip(spark, sf_dir, tmp_path):
    """IVF index persists (lists partitioned by list_id + integer
    centroid sums) and a loaded index answers identically to the
    in-memory one — the build-once/search-many path for repeated query
    batches."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators.similarity import (
        IVFIndex,
        build_ivf_index_exact,
        ivf_search_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index = build_ivf_index_exact(emb, n_lists=8)
    fresh = ivf_search_exact(index, queries, k=3, n_probe=3).toPandas()
    assert len(fresh) > 0

    path = str(tmp_path / "ivf")
    index.save(path)
    loaded = IVFIndex.load(spark, path)
    replay = ivf_search_exact(loaded, queries, k=3, n_probe=3).toPandas()

    key = ["qid", "rnk"]
    a = fresh.sort_values(key).reset_index(drop=True)
    b = replay.sort_values(key).reset_index(drop=True)
    assert a[["qid", "neighbor_id", "rnk"]].equals(b[["qid", "neighbor_id", "rnk"]])
    assert (a.cosine - b.cosine).abs().max() < 1e-9


def test_lsh_ann_recall(spark, sf_dir):
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=5).toPandas()
    ann = lsh_cosine_topk(emb, queries, k=5, num_planes=4, num_tables=8).toPandas()
    # every ANN hit is a valid pair, and recall vs exact is nonzero
    exact_pairs = set(zip(exact.qid, exact.neighbor_id))
    ann_pairs = set(zip(ann.qid, ann.neighbor_id))
    assert ann_pairs, "ANN returned nothing"
    recall = len(ann_pairs & exact_pairs) / len(exact_pairs)
    assert recall > 0.2, recall


def test_minhash_banding(spark, sf_dir):
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators.dedup import (
        jaccard_near_dup_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=32)
    assert sigs.count() == docs.count()
    cands = minhash_lsh_candidates(sigs, bands=8, rows_per_band=4).toPandas()
    true_pairs = jaccard_near_dup_pairs(
        docs, "text", "doc_id", threshold=0.5
    ).toPandas()
    if len(true_pairs):
        cand_set = set(zip(cands.id_a, cands.id_b))
        hits = sum(
            (a, b) in cand_set for a, b in zip(true_pairs.id_a, true_pairs.id_b)
        )
        # banded MinHash should surface most >=0.5-Jaccard pairs
        assert hits / len(true_pairs) >= 0.5


def test_simhash_deterministic(spark, sf_dir):
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents").limit(50)
    a = simhash(docs, "text", "doc_id").toPandas().set_index("doc_id")["simhash"]
    b = simhash(docs, "text", "doc_id").toPandas().set_index("doc_id")["simhash"]
    assert (a == b).all()
    # identical texts -> identical signatures
    docs2 = docs.union(docs)
    c = simhash(docs2, "text", "doc_id").toPandas()
    assert (c.groupby("doc_id")["simhash"].nunique() == 1).all()


def test_streaming_oi_matches_batch(spark, sf_dir, tmp_path):
    from dissertation_iceberg_spark.io import lob_events
    from dissertation_iceberg_spark.streaming.oi_stream import streaming_oi

    src = str(tmp_path / "events_src")
    out_name = "oi_stream_out"
    lob = lob_events(spark, sf_dir).select("ts", "direction", "size")
    lob.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        streaming_oi(stream, 3600)
        .writeStream.format("memory")
        .queryName(out_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table(out_name)
        .select("bin", F.round("order_imbalance", 6).alias("oi"), "n_events")
        .toPandas()
        .sort_values("bin")
        .reset_index(drop=True)
    )
    want = (
        streaming_oi(spark.read.parquet(src), 3600)
        .select("bin", F.round("order_imbalance", 6).alias("oi"), "n_events")
        .toPandas()
        .sort_values("bin")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # ceil-semantics parity with the batch bin_end kernel
    from dissertation_iceberg_spark.functions.time_bins import bin_end

    batch_bins = (
        spark.read.parquet(src)
        .select(bin_end("ts", 3600).alias("bin"))
        .distinct()
        .toPandas()["bin"]
    )
    assert set(got.bin) == set(batch_bins)


def test_ivf_ann_recall(spark, sf_dir):
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators.similarity import (
        build_ivf_index_exact,
        cosine_topk,
        ivf_search_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=5).toPandas()
    index = build_ivf_index_exact(emb, n_lists=8)
    ann = ivf_search_exact(index, queries, k=5, n_probe=4).toPandas()
    exact_pairs = set(zip(exact.qid, exact.neighbor_id))
    ann_pairs = set(zip(ann.qid, ann.neighbor_id))
    assert ann_pairs
    recall = len(ann_pairs & exact_pairs) / len(exact_pairs)
    # probing half the lists on clustered-ish data: expect decent recall
    assert recall > 0.3, recall


def test_model_persistence_roundtrip(spark, sf_dir, tmp_path, featured):
    """S10: PipelineModel.save/load — reloaded model reproduces the
    original predictions exactly."""
    from pyspark.ml import PipelineModel

    from dissertation_iceberg_spark.ml.pipeline import predict_direction, train_rf

    model = train_rf(featured.limit(500), FEATURES, num_trees=10)
    path = str(tmp_path / "rf_model")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    a = (
        predict_direction(model, featured.limit(200))
        .select("event_id", "pred_prob")
        .toPandas()
        .set_index("event_id")
        .sort_index()
    )
    b = (
        predict_direction(reloaded, featured.limit(200))
        .select("event_id", "pred_prob")
        .toPandas()
        .set_index("event_id")
        .sort_index()
    )
    assert (a.pred_prob == b.pred_prob).all()


@pytest.mark.slow
def test_cross_validated_rf(featured):
    """M2: 5-fold accuracy grid search (GridSearchCV parity) actually
    selects a model that predicts."""
    from dissertation_iceberg_spark.ml.pipeline import predict_direction, train_rf

    small = featured.limit(300).cache()
    model = train_rf(small, FEATURES, cv=True, num_trees=10)
    pred = predict_direction(model, small)
    assert pred.count() == 300
    stage = model.stages[-1]
    assert stage.getMaxDepth() in (4, 6)
    assert stage.getNumTrees in (25, 50) or stage.getNumTrees > 0


def test_portable_hash_three_way_agreement(spark, duck):
    """The portable 60-bit hash family must agree across Spark, DuckDB,
    and Python (the three places it runs: operators, oracles, plane
    literals)."""
    from dissertation_iceberg_spark.functions.hashing import (
        hash60,
        hash60_py,
        hash60_sql,
        seeded_hash60,
        seeded_hash60_sql,
    )

    payloads = ["hello", "a b c", "", "Zürich 🚀", "0:edge"]
    sp = (
        spark.createDataFrame([(p,) for p in payloads], ["s"])
        .select("s", hash60(F.col("s")).alias("h"), seeded_hash60(7, F.col("s")).alias("h7"))
        .toPandas()
        .set_index("s")
    )
    for p in payloads:
        du = duck.execute(
            f"SELECT {hash60_sql('?')} AS h, {seeded_hash60_sql(7, '?')} AS h7",
            [p, p],
        ).fetchone()
        assert int(sp.loc[p, "h"]) == int(du[0]) == hash60_py(p), p
        assert int(sp.loc[p, "h7"]) == int(du[1]) == hash60_py(f"7:{p}"), p


def test_word_shingles_short_docs_no_crash(spark):
    """Docs with fewer than n tokens (or empty text) must yield zero
    shingle rows, not a runtime slice() error (round-3 review fix:
    F.sequence(0, k-1) with k <= 0 is a DESCENDING sequence)."""
    from dissertation_iceberg_spark.operators.dedup import (
        jaccard_near_dup_pairs,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "a b"), (3, "one two three four"), (4, "x")],
        ["doc_id", "text"],
    )
    sh = word_shingles(docs, "text", "doc_id", n=3, with_size=True).toPandas()
    assert set(sh.doc_id) == {3}  # only the >=3-token doc shingles
    assert (sh.set_size == 2).all()
    # end-to-end consumers survive short docs too
    assert jaccard_near_dup_pairs(docs, "text", "doc_id", n=3).count() == 0


def test_capped_jaccard_uses_filtered_universe(spark):
    """With max_shingle_freq, BOTH intersections and set sizes live in
    the filtered universe (round-2 semantics): docs overlapping only
    via a capped stop-shingle still score on their surviving shingles."""
    from dissertation_iceberg_spark.operators.dedup import jaccard_near_dup_pairs

    # 'c1 c2 c3' is a stop-shingle shared by ALL four docs (df=4, capped
    # at 3); docs 1/2 also share their remaining two shingles exactly
    docs = spark.createDataFrame(
        [
            (1, "a b c w c1 c2 c3"),
            (2, "a b c w c1 c2 c3"),
            (3, "p q r s c1 c2 c3"),
            (4, "t u v x c1 c2 c3"),
        ],
        ["doc_id", "text"],
    )
    out = jaccard_near_dup_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, max_shingle_freq=3
    ).toPandas()
    # docs 1-2: every surviving shingle identical -> jaccard 1.0 in the
    # filtered universe (uncapped sizes would deflate this below 1.0)
    row = out[(out.id_a == 1) & (out.id_b == 2)]
    assert len(row) == 1 and row.jaccard.iloc[0] == 1.0
    # docs overlapping ONLY via the capped stop-shingle never pair
    assert not ((out.id_a == 3) | (out.id_b == 3)).any()


def test_simhash_rejects_out_of_range_bits(spark, sf_dir):
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents").limit(5)
    with pytest.raises(ValueError, match="60 bits"):
        simhash(docs, "text", "doc_id", bits=64)


def test_streaming_abtest_matches_batch(spark, sf_dir, tmp_path):
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.streaming.abtest_stream import (
        streaming_abtest,
    )

    src = str(tmp_path / "abtest_src")
    out_name = "abtest_stream_out"
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        (F.col("event_id") % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(
        src
    )
    q = (
        streaming_abtest(stream, 86400)
        .writeStream.format("memory")
        .queryName(out_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table(out_name)
        .toPandas()
        .sort_values("win_end")
        .reset_index(drop=True)
    )
    want = (
        streaming_abtest(spark.read.parquet(src), 86400)
        .toPandas()
        .sort_values("win_end")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    assert (got.n1 + got.n0).sum() == ev.count()


def test_streaming_cdc_matches_batch_twin(spark, sf_dir, tmp_path):
    """The streaming CDC snapshot must equal the batch
    cdc_latest_state registry entry (after filtering tombstones and
    aligning columns)."""
    from dissertation_iceberg_spark.io import load_table
    from dissertation_iceberg_spark.queries.registry import (
        REGISTRY,
        _ensure_loaded,
    )
    from dissertation_iceberg_spark.streaming.cdc_stream import (
        streaming_cdc_latest,
    )

    _ensure_loaded()
    src = str(tmp_path / "cdc_src")
    out_name = "cdc_stream_out"
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_id", "event_type", "value"
    )
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(
        src
    )
    q = (
        streaming_cdc_latest(stream)
        .writeStream.format("memory")
        .queryName(out_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table(out_name)
        .filter(F.col("is_delete") == 0)
        .drop("is_delete")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = (
        REGISTRY["cdc_latest_state"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
