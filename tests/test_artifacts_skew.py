"""Model artifact lifecycle (save/load/broadcast/score) and skew helpers."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def test_artifact_roundtrip_and_broadcast(spark, tmp_path):
    from azure_serverless_etl_pipeline_spark.ml.artifacts import (
        ZScoreModel,
        broadcast_model,
        check_artifacts,
        fit_zscore_model,
    )
    from azure_serverless_etl_pipeline_spark.plans import all_queries

    feats = all_queries()["g08_rolling_features"](spark, SF_ORACLE)
    model = fit_zscore_model(feats)
    assert set(model.mu) == {str(d) for d in range(7)}

    p = tmp_path / "anomaly_model.json"
    model.save(p)
    loaded = ZScoreModel.load(p)
    assert loaded == model

    bc = broadcast_model(spark, loaded)
    assert bc.value.threshold == 3.0

    # checkmodels analog: good json, missing file, unsupported pickle
    res = check_artifacts(
        {"good": str(p), "missing": str(tmp_path / "nope.json"),
         "pickle": str(tmp_path / "nope.pkl")}
    )
    assert res == {"good": True, "missing": False, "pickle": False}


def test_salted_join_matches_plain(spark):
    from azure_serverless_etl_pipeline_spark.operators.skew import salted_join
    from azure_serverless_etl_pipeline_spark.sources import load_table

    o = load_table(spark, SF_ORACLE, "orders")
    prio = o.groupBy("o_orderpriority").agg(F.avg("o_totalprice").alias("p_avg"))

    plain = o.join(prio, ["o_orderpriority"]).select("o_orderkey", "p_avg")
    salted = salted_join(o, prio, ["o_orderpriority"]).select("o_orderkey", "p_avg")
    a = plain.toPandas().sort_values("o_orderkey", ignore_index=True)
    b = salted.toPandas().sort_values("o_orderkey", ignore_index=True)
    assert a.equals(b)


def test_salted_left_join_preserves_unmatched(spark):
    from azure_serverless_etl_pipeline_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    small = spark.createDataFrame([(1, 10.0)], "k int, w double")
    out = salted_join(big, small, ["k"], how="left").toPandas()
    assert len(out) == 3
    assert out[out.k == 3]["w"].isna().all()


def test_skewed_group_sum_matches_plain(spark):
    from azure_serverless_etl_pipeline_spark.operators.skew import skewed_group_sum
    from azure_serverless_etl_pipeline_spark.sources import load_table

    li = load_table(spark, SF_ORACLE, "lineitem")
    plain = (
        li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
        .toPandas()
        .sort_values("l_returnflag", ignore_index=True)
    )
    salted = (
        skewed_group_sum(li, ["l_returnflag"], "l_quantity", "s", salt_buckets=16)
        .toPandas()
        .sort_values("l_returnflag", ignore_index=True)
    )
    assert (abs(plain["s"] - salted["s"]) < 1e-6).all()


def test_pretrained_model_scoring_matches_online(spark):
    """score_anomalies (online stats) == score_anomalies_with_model
    (broadcast pre-trained artifact) when fit on the same frame."""
    from azure_serverless_etl_pipeline_spark.ml.artifacts import (
        broadcast_model,
        fit_zscore_model,
    )
    from azure_serverless_etl_pipeline_spark.ml.scoring import (
        score_anomalies,
        score_anomalies_with_model,
    )
    from azure_serverless_etl_pipeline_spark.plans import all_queries

    feats = all_queries()["g08_rolling_features"](spark, SF_ORACLE)
    online = score_anomalies(feats).toPandas()
    bc = broadcast_model(spark, fit_zscore_model(feats))
    pretrained = score_anomalies_with_model(feats, bc).toPandas()
    key = ["user_id", "date"]
    a = online.sort_values(key, ignore_index=True)
    b = pretrained.sort_values(key, ignore_index=True)
    assert (a["score"] - b["score"]).abs().max() < 1e-9
    assert (a["anomaly"] == b["anomaly"]).all()


def test_m01_scoring_through_serialized_artifact(spark, tmp_path):
    """The full S-11/M-3 lifecycle against the m01 registry output: fit ->
    save to disk -> reload through the loader (dict-unwrap convention) ->
    broadcast -> score. A user shipping a serialized model file must get
    bit-identical scores to the registry's online m01 path."""
    from azure_serverless_etl_pipeline_spark.ml.artifacts import (
        ZScoreModel,
        broadcast_model,
        check_artifacts,
        fit_zscore_model,
    )
    from azure_serverless_etl_pipeline_spark.ml.scoring import (
        score_anomalies_with_model,
    )
    from azure_serverless_etl_pipeline_spark.plans import all_queries

    qs = all_queries()
    feats = qs["g08_rolling_features"](spark, SF_ORACLE)
    p = tmp_path / "anomaly_model.json"
    fit_zscore_model(feats).save(p)
    assert check_artifacts({"m": str(p)}) == {"m": True}  # S-11 smoke gate

    bc = broadcast_model(spark, ZScoreModel.load(p))
    from_artifact = score_anomalies_with_model(feats, bc).toPandas()
    online = qs["m01_anomaly_scores"](spark, SF_ORACLE).toPandas()

    key = ["user_id", "date"]
    a = from_artifact.sort_values(key, ignore_index=True)
    b = online.sort_values(key, ignore_index=True)
    assert len(a) == len(b) > 0
    assert (a["score"] - b["score"]).abs().max() < 1e-9
    assert (a["anomaly"] == b["anomaly"]).all()
