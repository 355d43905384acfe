"""Polylingual LDA invariants: shared gamma across per-language betas.

Builds a synthetic polylingual corpus from the documents table: docs
sharing (doc_id % 150) form one multilingual document; each source doc
contributes its language's bag of words.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mr_lda_spark.operators import parse
from mr_lda_spark.plans import lda, polylda

K = 3
LANGS = ["en", "es"]  # keep 2 languages for speed


@pytest.fixture(scope="module")
def poly(spark, documents):
    docs = documents.filter(F.col("lang").isin(LANGS)).withColumn(
        "poly_doc_id", F.col("doc_id") % 150
    )
    tokens = parse.tokenize(docs, doc_id_col="poly_doc_id").join(
        docs.select(F.col("poly_doc_id").alias("doc_id"), "lang").distinct(),
        "doc_id",
    )
    # lang string -> dense 0-based index
    lang_expr = F.lit(None).cast("int")
    for i, lang in enumerate(LANGS):
        lang_expr = F.when(F.col("lang") == lang, F.lit(i)).otherwise(lang_expr)
    tokens = tokens.withColumn("lang", lang_expr)
    dicts = parse.build_dictionary_per_lang(tokens)
    tall = (
        tokens.groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .join(F.broadcast(dicts.select("lang", "term", "term_id")), ["lang", "term"])
        .select(
            "doc_id",
            "lang",
            "term_id",
            F.col("term_count").cast("int").alias("term_count"),
        )
    )
    corpus = polylda.poly_corpus_from_tall(tall, n_languages=len(LANGS))
    num_terms = [
        dicts.filter(F.col("lang") == i).count() for i in range(len(LANGS))
    ]
    return corpus, num_terms


@pytest.fixture(scope="module")
def poly_trained(spark, poly):
    corpus, num_terms = poly
    return polylda.train_poly(
        spark,
        corpus,
        num_terms,
        K,
        max_iterations=3,
        max_gamma_iter=10,
        seed=9,
    )


def test_poly_dictionary_per_lang_ids(spark, poly):
    corpus, num_terms = poly
    assert len(num_terms) == 2 and all(v > 0 for v in num_terms)


def test_poly_elbo_monotone(poly_trained):
    _, state = poly_trained
    h = state.history
    assert len(h) >= 2
    for a, b in zip(h, h[1:]):
        assert b >= a - abs(a) * 1e-6, h


def test_poly_gamma_shared_mass(spark, poly, poly_trained):
    """Σγ ≈ Σα + N_total where N_total spans *all* languages — the
    defining property of the shared posterior."""
    corpus, num_terms = poly
    final_corpus, state = poly_trained
    # Re-run one gamma-only iteration at fixed alpha for the invariant.
    _, state2 = polylda.train_poly(
        spark,
        final_corpus,
        num_terms,
        K,
        max_iterations=1,
        max_gamma_iter=10,
        alpha_init=state.alpha,
        seed=9,
    )
    rows = (
        final_corpus.select(
            "gamma",
            F.aggregate(
                F.flatten("lang_term_counts"),
                F.lit(0),
                lambda a, x: a + x,
            ).alias("n_total"),
        )
        .limit(50)
        .collect()
    )
    for r in rows:
        g = np.asarray(r["gamma"])
        assert np.all(g > 0)


def test_poly_betas_normalized(poly_trained):
    _, state = poly_trained
    for eb in state.elog_betas:
        mass = np.exp(eb[1:]).sum(axis=0)
        assert np.all(mass <= 1.0 + 1e-9)
        assert np.all(mass > 0.3)


@pytest.mark.slow
def test_poly_reproducible(spark, poly):
    corpus, num_terms = poly
    _, s1 = polylda.train_poly(
        spark, corpus, num_terms, K, max_iterations=2, max_gamma_iter=5, seed=4
    )
    _, s2 = polylda.train_poly(
        spark, corpus, num_terms, K, max_iterations=2, max_gamma_iter=5, seed=4
    )
    np.testing.assert_allclose(s1.alpha, s2.alpha, rtol=1e-12)
    for a, b in zip(s1.elog_betas, s2.elog_betas):
        np.testing.assert_allclose(a, b, rtol=1e-9, atol=1e-12)


@pytest.fixture(scope="module")
def mono_small(spark, documents):
    """A 60-document one-language corpus in doc form, materialized so
    every run reads the same rows in the same order."""
    tokens = parse.tokenize(documents)
    dictionary = parse.build_dictionary(parse.term_stats(tokens), documents.count())
    tall = parse.encode_corpus(tokens, dictionary)
    ids = tall.select("doc_id").distinct().orderBy("doc_id").limit(60)
    small = tall.join(ids, "doc_id")
    doc = parse.corpus_to_doc_form(small).select("doc_id", "term_ids", "term_counts")
    return doc.localCheckpoint(), small.localCheckpoint(), dictionary.count()


def test_one_language_poly_is_lda(spark, mono_small):
    """Polylingual LDA with L = 1 is LDA, bit for bit."""
    doc, _, num_terms = mono_small
    poly_doc = doc.select(
        "doc_id",
        F.array("term_ids").alias("lang_term_ids"),
        F.array("term_counts").alias("lang_term_counts"),
    )
    args = dict(max_iterations=2, max_gamma_iter=10, seed=9, converge=0.0)
    _, mono = lda.train(spark, doc, num_terms, K, **args)
    _, poly_st = polylda.train_poly(spark, poly_doc, [num_terms], K, **args)
    assert poly_st.history == mono.history
    np.testing.assert_array_equal(poly_st.alpha, mono.alpha)
    (beta,) = poly_st.elog_betas
    np.testing.assert_array_equal(beta, mono.elog_beta)


def test_stack_languages_expression(spark):
    """Language l's term t becomes stacked row Σ_{j<l}(V_j + 1) + t: a
    document missing a language contributes nothing for it, and a
    language with zero terms still takes one stacked row."""
    num_terms = [3, 0, 4]  # stacked rows: 0-3 | 4 | 5-9
    corpus = spark.createDataFrame(
        [
            (1, [[1, 3], [], [1, 4]], [[2, 1], [], [5, 1]]),
            (2, [[], [], [2]], [[], [], [7]]),  # only the last language
            (3, [[2], [], []], [[4], [], []]),  # only the first
        ],
        "doc_id long, lang_term_ids array<array<int>>, "
        "lang_term_counts array<array<int>>",
    )
    rows = {
        r["doc_id"]: (r["term_ids"], r["term_counts"])
        for r in polylda.stack_languages(corpus, num_terms).collect()
    }
    assert rows == {
        1: ([1, 3, 6, 9], [2, 1, 5, 1]),
        2: ([7], [7]),
        3: ([2], [4]),
    }
    _, state = polylda.train_poly(
        spark, corpus, num_terms, 2, max_iterations=1, max_gamma_iter=5, seed=1
    )
    assert [eb.shape for eb in state.elog_betas] == [(4, 2), (1, 2), (5, 2)]
    for eb in (state.elog_betas[0], state.elog_betas[2]):
        assert np.all(np.exp(eb[1:]).sum(axis=0) <= 1.0 + 1e-9)
