"""Bigram-LM perplexity filter (operators/lm.py).

Invariants: hand-computed probabilities on a tiny corpus, held-out
calibration behavior (buckets split the corpus, not 'everything tail'),
edge documents (empty / one-token → unscored), determinism under
repartition, and the scale-posture plan gates (broadcast lookups, one
shuffle for the per-doc reduction, no global sort in the bucket path).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.operators import lm as L

from conftest import SF_ORACLE as SF


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_tiny_corpus_hand_computed(spark):
    # sample covers the whole corpus (limit > n) so the model is exact:
    # doc 1 "a b a b", doc 2 "a b c"
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], ["doc_id", "text"]
    )
    cb, cu, v = L.bigram_lm_train(df, sample_limit=10)
    counts = {(r["a"], r["b"]): r["cb"] for r in cb.collect()}
    ctx = {r["a"]: r["cu"] for r in cu.collect()}
    # bigrams: doc1 → ab, ba, ab; doc2 → ab, bc
    assert counts == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    assert ctx == {"a": 3, "b": 2}
    assert v == 3.0  # {a, b, c}
    scored = {
        r["doc_id"]: r
        for r in L.lm_score(df, cb, cu, v).collect()
    }
    # doc1: ln(4/6) + ln(2/5) + ln(4/6) over 3 bigrams
    want1 = -(math.log(4 / 6) + math.log(2 / 5) + math.log(4 / 6)) / 3
    assert scored[1]["n_bigrams"] == 3
    assert scored[1]["xent"] == round(want1, 6)
    # doc2: ln(4/6) + ln(2/5) over 2 bigrams
    want2 = -(math.log(4 / 6) + math.log(2 / 5)) / 2
    assert scored[2]["xent"] == round(want2, 6)


def test_oov_and_edge_documents(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "x y"), (3, ""), (4, "solo"), (5, "?!...")],
        ["doc_id", "text"],
    )
    # train on doc 1 only: vocabulary {a, b}, one bigram
    train = df.filter(F.col("doc_id") == 1)
    cb, cu, v = L.bigram_lm_train(train, sample_limit=10)
    scored = {r["doc_id"]: r for r in L.lm_score(df, cb, cu, v).collect()}
    # fully-OOV bigram: (0+1)/(0+2)
    assert scored[2]["xent"] == round(-math.log(1 / 2), 6)
    # no bigrams → unscored, but the row is still present
    for i in (3, 4, 5):
        assert scored[i]["n_bigrams"] == 0 and scored[i]["xent"] is None
    bucketed = {
        r["doc_id"]: r["bucket"]
        for r in L.lm_bucket(L.lm_score(df, cb, cu, v), 0.5, 1.0).collect()
    }
    assert bucketed[3] == "unscored"
    # missing thresholds (empty calibration) → every scored doc 'tail'
    nothr = L.lm_bucket(L.lm_score(df, cb, cu, v), None, None).collect()
    assert {r["bucket"] for r in nothr} == {"unscored", "tail"}


def test_pipeline_buckets_split_corpus(spark):
    # deterministic subset: the pipeline runs several independent jobs
    # over df, and a bare limit() can hand each a different row subset
    out = L.lm_perplexity_pipeline(
        _docs(spark).filter(F.col("doc_id") < 400)
    )
    counts = {
        r["bucket"]: r["n"]
        for r in out.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    # held-out calibration: each tertile bucket holds a real share of
    # the corpus (in-sample thresholds would leave head+middle ≈ the
    # sample size only)
    total = sum(counts.values())
    assert total == 400
    for b in ("head", "middle", "tail"):
        assert counts.get(b, 0) > total * 0.1, counts


def test_deterministic_under_repartition(spark):
    d = _docs(spark).filter(F.col("doc_id") < 300)
    a = sorted(
        L.lm_perplexity_pipeline(d).collect(), key=lambda r: r["doc_id"]
    )
    b = sorted(
        L.lm_perplexity_pipeline(d.repartition(13)).collect(),
        key=lambda r: r["doc_id"],
    )
    assert a == b


def test_scoring_plan_quality(spark):
    d = _docs(spark)
    cb, cu, v = L.bigram_lm_train(d, sample_limit=64)
    plan = (
        L.lm_score(d, cb, cu, v)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # both count lookups broadcast: the corpus side shuffles exactly
    # once, for the per-doc reduction (the broadcast inputs are
    # driver-local relations, so no sample-side exchange exists)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    doc_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(doc_id" in ln
    ]
    assert len(doc_exchanges) == 1, plan
    # bucketing adds no sort/shuffle on top of scoring
    out_plan = (
        L.lm_bucket(L.lm_score(d, cb, cu, v), 1.0, 2.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert out_plan.count("Exchange hashpartitioning(doc_id") == 1
    assert "Sort [" not in out_plan


def test_inplan_thresholds_match_helper(spark):
    """The pipeline's in-plan window/aggregate thresholds (r12) must
    reproduce lm_tertile_thresholds' driver-side positions —
    ceil(n/3)/ceil(2n/3), 1-based, ascending (xent, id), nulls
    excluded — including on a calibration slice with tied xents and
    unscored (single-token) docs."""
    d = _docs(spark).limit(300)
    cb, cu, v = L.bigram_lm_train(d, sample_limit=24)
    # score a deterministic slice the way the pipeline's calib branch
    # does, then compare the helper's collected thresholds against the
    # buckets the full pipeline actually assigned at the SAME split
    scored = L.lm_score(d, cb, cu, v)
    out = {
        r["doc_id"]: r
        for r in L.lm_perplexity_pipeline(
            d, sample_limit=24, calib_limit=48
        ).collect()
    }
    head = [
        r["__id"]
        for r in d.select(
            F.col("doc_id").alias("__id")
        ).orderBy(
            F.md5(F.col("__id").cast("string")), F.col("__id")
        ).limit(24 + 48).collect()
    ]
    calib_scored = L.lm_score(
        d.filter(F.col("doc_id").isin(head[24:])), cb, cu, v
    )
    t1, t2 = L.lm_tertile_thresholds(calib_scored)
    expect = {
        r["doc_id"]: r["bucket"]
        for r in L.lm_bucket(scored, t1, t2).collect()
    }
    assert {k: r["bucket"] for k, r in out.items()} == expect


def test_model_frames_are_local_table_scans(spark):
    """The model's count frames are one Arrow batch each: the scoring
    plan reads them as LocalTableScan, never as a pickled Python RDD
    (Scan ExistingRDD runs a Python task per partition at each
    broadcast)."""
    d = _docs(spark)
    cb, cu, v = L.bigram_lm_train(d, sample_limit=64)
    assert cb.count() > 0 and cu.count() > 0
    plan = (
        L.lm_score(d, cb, cu, v)._jdf.queryExecution().executedPlan().toString()
    )
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_empty_training_sample_keeps_model_schema(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    cb, cu, v = L.bigram_lm_train(df.filter(F.lit(False)), sample_limit=10)
    assert cb.schema.simpleString() == "struct<a:string,b:string,cb:bigint>"
    assert cu.schema.simpleString() == "struct<a:string,cu:bigint>"
    assert cb.count() == 0 and cu.count() == 0 and v == 0.0
    assert "LocalTableScan" in cb._jdf.queryExecution().executedPlan().toString()


def test_pipeline_null_text_in_sample_is_empty_doc(spark):
    """A NULL text in the training sample counts as an empty document
    (no bigrams, no vocabulary), as lm_score's explode_outer does."""
    df = spark.createDataFrame(
        [(1, "a b a"), (2, None), (3, "b a b")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in L.lm_perplexity_pipeline(df, sample_limit=2).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[2]["n_bigrams"] == 0 and out[2]["bucket"] == "unscored"
    # the model equals the one trained on the non-NULL sample docs
    sample = [
        r["doc_id"]
        for r in L.lm_sample_ids(df, sample_limit=2).collect()
    ]
    cb, cu, v = L.bigram_lm_train(
        df.filter(F.col("doc_id").isin(sample) & F.col("text").isNotNull()),
        sample_limit=10,
    )
    ref = {r["doc_id"]: r["xent"] for r in L.lm_score(df, cb, cu, v).collect()}
    assert {k: r["xent"] for k, r in out.items()} == ref
