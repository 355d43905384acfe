"""Join-mode (distributed per-language β) polylingual EM must agree
with broadcast mode — the same parity contract as test_lda_join, with
the lang dimension riding the packed (lang << 32 | term_id) key."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mr_lda_spark.operators import parse
from mr_lda_spark.plans import lda_join, polylda, polylda_join

K = 3
ITERS = 3
LANGS = ["en", "es"]


@pytest.fixture(scope="module")
def poly_tall(spark, documents):
    docs = documents.filter(F.col("lang").isin(LANGS)).withColumn(
        "poly_doc_id", F.col("doc_id") % 150
    )
    tokens = parse.tokenize(docs, doc_id_col="poly_doc_id").join(
        docs.select(F.col("poly_doc_id").alias("doc_id"), "lang").distinct(),
        "doc_id",
    )
    lang_expr = F.lit(None).cast("int")
    for i, lang in enumerate(LANGS):
        lang_expr = F.when(F.col("lang") == lang, F.lit(i)).otherwise(lang_expr)
    tokens = tokens.withColumn("lang", lang_expr)
    dicts = parse.build_dictionary_per_lang(tokens)
    tall = (
        tokens.groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .join(
            F.broadcast(dicts.select("lang", "term", "term_id")),
            ["lang", "term"],
        )
        .select(
            "doc_id",
            "lang",
            "term_id",
            F.col("term_count").cast("int").alias("term_count"),
        )
        .localCheckpoint()
    )
    num_terms = [
        dicts.filter(F.col("lang") == i).count() for i in range(len(LANGS))
    ]
    return tall, num_terms


@pytest.mark.slow
def test_poly_join_matches_broadcast(spark, poly_tall):
    tall, num_terms = poly_tall
    corpus = polylda.poly_corpus_from_tall(tall, n_languages=len(LANGS))

    _, s_bc = polylda.train_poly(
        spark, corpus, num_terms, K,
        max_iterations=ITERS, max_gamma_iter=10, seed=9, converge=0.0,
    )
    gamma_df, s_join = polylda_join.train_poly_join(
        spark, tall, num_terms, K,
        max_iterations=ITERS, max_gamma_iter=10, seed=9, converge=0.0,
        shuffle_partitions=8,
    )

    # Same math, different reduction orders → tight but not bitwise.
    np.testing.assert_allclose(
        np.array(s_join.history), np.array(s_bc.history), rtol=1e-8
    )
    np.testing.assert_allclose(s_join.alpha, s_bc.alpha, rtol=1e-6)
    assert len(s_join.elog_betas) == len(LANGS)
    for lang in range(len(LANGS)):
        np.testing.assert_allclose(
            s_join.elog_betas[lang][1:],
            s_bc.elog_betas[lang][1:],
            rtol=1e-6,
            atol=1e-8,
        )
    assert gamma_df.count() == corpus.count()


@pytest.mark.slow
def test_poly_join_gamma_matches_broadcast(spark, poly_tall):
    """Per-document γ parity, not just corpus-level aggregates."""
    tall, num_terms = poly_tall
    corpus = polylda.poly_corpus_from_tall(tall, n_languages=len(LANGS))
    final_bc, _ = polylda.train_poly(
        spark, corpus, num_terms, K,
        max_iterations=2, max_gamma_iter=8, seed=4, converge=0.0,
    )
    gamma_join, _ = polylda_join.train_poly_join(
        spark, tall, num_terms, K,
        max_iterations=2, max_gamma_iter=8, seed=4, converge=0.0,
        shuffle_partitions=8,
    )
    bc = {r["doc_id"]: r["gamma"] for r in final_bc.select("doc_id", "gamma").collect()}
    jn = {r["doc_id"]: r["gamma"] for r in gamma_join.collect()}
    assert set(jn) <= set(bc)
    for doc_id, g in jn.items():
        np.testing.assert_allclose(np.array(g), np.array(bc[doc_id]), rtol=1e-7)


@pytest.mark.slow
def test_poly_join_elbo_monotone(spark, poly_tall):
    tall, num_terms = poly_tall
    _, state = polylda_join.train_poly_join(
        spark, tall, num_terms, K,
        max_iterations=ITERS, max_gamma_iter=10, seed=5, converge=0.0,
        shuffle_partitions=8,
    )
    h = state.history
    for a, b in zip(h, h[1:]):
        assert b >= a - abs(a) * 1e-6, h


def test_poly_infer_join_matches_broadcast_infer(spark, poly_tall):
    """Held-out polylingual scoring: per-doc γ and ll through the
    packed-key β join (auto-broadcast disabled) must match broadcast
    infer_poly under the same trained state."""
    tall, num_terms = poly_tall
    corpus = polylda.poly_corpus_from_tall(tall, n_languages=len(LANGS))
    _, state = polylda.train_poly(
        spark, corpus, num_terms, K,
        max_iterations=2, max_gamma_iter=8, seed=9, converge=0.0,
    )
    bc = {
        r["doc_id"]: (r["gamma"], r["doc_ll"])
        for r in polylda.infer_poly(
            spark, corpus, state, max_gamma_iter=10
        ).collect()
    }
    beta_df = polylda_join.poly_beta_relation(spark, state)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        jn = {
            r["doc_id"]: (r["gamma"], r["doc_ll"])
            for r in polylda_join.infer_poly_join(
                spark, tall, beta_df, state.alpha, max_gamma_iter=10
            ).collect()
        }
    finally:
        spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)
    assert set(jn) == set(bc)
    for doc_id, (g, ll) in jn.items():
        np.testing.assert_allclose(
            np.array(g), np.array(bc[doc_id][0]), rtol=1e-7
        )
        np.testing.assert_allclose(ll, bc[doc_id][1], rtol=1e-7)


@pytest.mark.slow
def test_one_language_poly_join_is_lda_join(spark, documents):
    """Join-mode twin of test_polylda's L = 1 test: train_poly_join on
    a one-language corpus is train_beta_join on the same rows."""
    tokens = parse.tokenize(documents)
    dictionary = parse.build_dictionary(parse.term_stats(tokens), documents.count())
    tall = parse.encode_corpus(tokens, dictionary).localCheckpoint()
    num_terms = dictionary.count()
    args = dict(max_iterations=2, max_gamma_iter=10, seed=9, converge=0.0,
                shuffle_partitions=8)
    _, mono = lda_join.train_beta_join(spark, tall, num_terms, K, **args)
    _, poly_st = polylda_join.train_poly_join(
        spark, tall.withColumn("lang", F.lit(0)), [num_terms], K, **args
    )
    np.testing.assert_allclose(poly_st.history, mono.history, rtol=1e-12)
    np.testing.assert_allclose(poly_st.alpha, mono.alpha, rtol=1e-12)
    (beta,) = poly_st.elog_betas
    np.testing.assert_allclose(beta, mono.elog_beta, rtol=1e-12)
