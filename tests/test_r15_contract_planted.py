"""Planted-corpus arms for the four r15 contract graduations
(sim_ivf_topk, sim_semdedup_kmeans, ml_sentiment_model,
ml_tfidf_ridge_cv — the r14 funnel/FFD/MG discipline applied to the
new pairs): each live-fit flag must FIRE POSITIVE on structured data
where the agreement is unambiguous, and FLIP TO 0 when its floor is
made unsatisfiable (monkeypatched past 100%) — proving every flag is
computed live from the fits, not constant-folded to the oracle's
literal 1."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _planted_embeddings(spark, tmp_path, n=120, k=4, dim=16, seed=3):
    """k tight, well-separated gaussian clusters (vec_id also serves
    as the label for the frozen prototype side), written as an
    embeddings.parquet an sf_dir-shaped query can read."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, dim)) * 10
    labels = np.arange(n) % k
    vecs = centers[labels] + 0.05 * rng.normal(size=(n, dim))
    rows = [(int(i), int(labels[i]),
             [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    d = str(tmp_path / "sfdir")
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d


def _planted_documents(spark, tmp_path, n=90):
    """Strongly polar texts: the lexicon teacher and any competent
    student agree on every doc; labels cycle POS/NEG/NEU."""
    rows = []
    for i in range(n):
        if i % 3 == 0:
            text = "fast big fast big market " + f"filler{i % 7}"
        elif i % 3 == 1:
            text = "slow small slow small market " + f"filler{i % 7}"
        else:
            text = "market update number " + f"filler{i % 7}"
        rows.append((i, text, "en", "src0"))
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    df = df.withColumn("n_chars", F.length("text"))
    d = str(tmp_path / "sfdocs")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_ivf_topk_flag_fires_on_separated_clusters(spark, tmp_path):
    from big_data_crypto_sentiment_spark.queries.similarity import (
        TOP_K,
        q_sim_ivf_topk,
    )
    d = _planted_embeddings(spark, tmp_path)
    out = q_sim_ivf_topk(spark, d).collect()
    assert out and all(r.k_frozen == TOP_K for r in out)
    # tight separated clusters: live KMeans and frozen prototypes
    # retrieve the same neighborhoods — every per-query flag fires
    assert all(r.live_overlap_ge_min == 1 for r in out)
    assert all(len(r.frozen_ids.split(",")) == TOP_K for r in out)


def test_ivf_topk_flag_is_live_not_constant(spark, tmp_path,
                                            monkeypatch):
    from big_data_crypto_sentiment_spark.queries import similarity as S
    d = _planted_embeddings(spark, tmp_path, seed=5)
    monkeypatch.setattr(S, "IVF_LIVE_OVERLAP_MIN_PCT", 101)
    out = S.q_sim_ivf_topk(spark, d).collect()
    assert all(r.live_overlap_ge_min == 0 for r in out)


def test_semdedup_kmeans_flags_fire_on_planted_dups(spark, tmp_path):
    from big_data_crypto_sentiment_spark.queries.similarity import (
        q_sim_semdedup_kmeans,
    )
    d = _planted_embeddings(spark, tmp_path, n=100, k=3, seed=11)
    row = q_sim_semdedup_kmeans(spark, d).first()
    # tight clusters over the threshold: the frozen side really drops
    assert 0 < row.n_kept_frozen < row.n_vecs
    assert row.live_agree_ge_min == 1
    assert row.live_kept_in_bounds == 1
    # the kept-id checksum is a real sum over a nonempty strict subset
    assert 0 < row.kept_frozen_idsum < sum(range(row.n_vecs + 1))


def test_semdedup_kmeans_flag_is_live_not_constant(spark, tmp_path,
                                                   monkeypatch):
    from big_data_crypto_sentiment_spark.queries import similarity as S
    d = _planted_embeddings(spark, tmp_path, n=100, k=3, seed=11)
    monkeypatch.setattr(S, "SEMDEDUP_LIVE_AGREE_MIN_PCT", 101)
    row = S.q_sim_semdedup_kmeans(spark, d).first()
    assert row.live_agree_ge_min == 0


def test_sentiment_model_contract_on_polar_corpus(spark, tmp_path):
    from big_data_crypto_sentiment_spark.queries.ml import (
        q_ml_sentiment_model,
    )
    d = _planted_documents(spark, tmp_path)
    row = q_ml_sentiment_model(spark, d).first()
    assert row.n_docs == 90
    # exact teacher counts: the planted corpus cycles POS/NEG/NEU
    assert (row.n_teacher_positive, row.n_teacher_negative,
            row.n_teacher_neutral) == (30, 30, 30)
    assert row.student_agree_ge_min == 1


def test_sentiment_model_flag_is_live_not_constant(spark, tmp_path,
                                                   monkeypatch):
    from big_data_crypto_sentiment_spark.queries import ml as M
    d = _planted_documents(spark, tmp_path)
    monkeypatch.setattr(M, "SENT_AGREE_MIN_PCT", 101)
    row = M.q_ml_sentiment_model(spark, d).first()
    assert row.student_agree_ge_min == 0


def test_tfidf_ridge_cv_contract_on_predictive_corpus(spark, tmp_path):
    """Planted corpus where the lexicon label is perfectly text-
    derivable: rank-block counts match the integer closed form, the
    frozen/const MAEs are finite, and the live fit beats both."""
    from big_data_crypto_sentiment_spark.queries.ml import (
        CV_FOLDS_REG,
        q_ml_tfidf_ridge_cv,
    )
    # the labeled-docs artifact is keyed on sf_dir, so the planted
    # tmp dir can never hit a fixture's entry
    d = _planted_documents(spark, tmp_path, n=120)
    rows = {r.fold: r for r in q_ml_tfidf_ridge_cv(spark, d).collect()}
    assert len(rows) == CV_FOLDS_REG
    n = 120
    for f in range(1, CV_FOLDS_REG + 1):
        r = rows[f]
        assert r.n_train == n * f // (CV_FOLDS_REG + 1)
        assert (r.n_test
                == n * (f + 1) // (CV_FOLDS_REG + 1) - r.n_train)
        assert r.mae_const > 0 and r.mae_frozen > 0
        assert r.live_mae_le_const == 1
        assert r.live_mae_le_frozen == 1


def test_flags_survive_fixture_run_end_to_end(spark):
    """The real-fixture flags all read 1 at sf0.001 (the driver's
    hash would otherwise mismatch the oracle's literal 1 — this pin
    localizes that failure to the flag that moved)."""
    from big_data_crypto_sentiment_spark.queries.ml import (
        q_ml_sentiment_model,
    )
    from big_data_crypto_sentiment_spark.queries.similarity import (
        q_sim_semdedup_kmeans,
    )
    sf = "/root/testdata/sf0.001"
    assert q_ml_sentiment_model(spark, sf).first().student_agree_ge_min == 1
    r = q_sim_semdedup_kmeans(spark, sf).first()
    assert r.live_agree_ge_min == 1 and r.live_kept_in_bounds == 1
