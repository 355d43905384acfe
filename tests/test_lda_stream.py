"""Online (streaming) LDA: model must improve as micro-batches arrive."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mr_lda_spark.operators import parse
from mr_lda_spark.streaming import lda_stream

SF = "/root/testdata/sf0.001"
K = 4


@pytest.fixture(scope="module")
def dictionary(spark, documents):
    tokens = parse.tokenize(documents)
    return parse.build_dictionary(parse.term_stats(tokens), documents.count())


def test_process_micro_batch_static(spark):
    """One online step on a small static doc-form batch (empty doc
    included): λ stays finite and positive and the counters advance."""
    num_terms = 12
    batch = spark.createDataFrame(
        [
            (0, [1, 2, 5], [3, 1, 2]),
            (1, [2, 7, 12], [1, 4, 1]),
            (2, [], []),
            (3, [1, 9], [2, 2]),
        ],
        "doc_id long, term_ids array<int>, term_counts array<int>",
    )
    model = lda_stream.init_online_model(num_terms, K, corpus_size_estimate=40, seed=1)
    lam0 = model.lam.copy()
    model = lda_stream.process_micro_batch(batch, model, max_gamma_iter=5)
    assert (model.t, model.docs_seen) == (1, 3)
    assert np.all(np.isfinite(model.lam)) and np.all(model.lam > 0)
    # Words of the batch gain mass relative to the decayed prior.
    used = [1, 2, 5, 7, 9, 12]
    unused = [3, 4, 6, 8, 10, 11]
    gain = (model.lam / lam0)[1:].sum(axis=1)
    assert gain[np.array(used) - 1].min() > gain[np.array(unused) - 1].max()
    assert len(model.batch_perplexities) == 1
    assert np.isfinite(model.batch_perplexities[0])


@pytest.mark.slow
def test_online_lda_from_stream(spark, documents, dictionary):
    model = lda_stream.train_online_from_stream(
        spark,
        SF,
        dictionary,
        num_topics=K,
        corpus_size_estimate=documents.count(),
        docs_per_batch=100,
        max_gamma_iter=10,
        seed=3,
    )
    assert model.t >= 3, "expected several online updates"
    assert model.docs_seen == documents.count()
    # Later batches should fit better than the first (random init).
    ppl = model.batch_perplexities
    assert ppl[-1] < ppl[0], ppl
    # Topics normalized.
    eb = model.elog_beta
    mass = np.exp(eb[1:]).sum(axis=0)
    assert np.all(mass <= 1.0 + 1e-9) and np.all(mass > 0.3)


@pytest.mark.slow
def test_online_matches_batch_topic_quality(spark, documents, dictionary):
    """Online model's per-token perplexity on the full corpus should be
    in the regime of a short batch run (sanity, loose 2x bound)."""
    from mr_lda_spark.plans import lda

    corpus_doc = parse.corpus_to_doc_form(
        parse.encode_corpus(parse.tokenize(documents), dictionary)
    )
    num_terms = dictionary.count()

    model = lda_stream.train_online_from_stream(
        spark, SF, dictionary, num_topics=K,
        corpus_size_estimate=documents.count(),
        docs_per_batch=100, max_gamma_iter=10, seed=3,
    )
    state = lda.LdaState(alpha=model.alpha, elog_beta=model.elog_beta)
    inferred = lda.infer(spark, corpus_doc, state, max_gamma_iter=10)
    total_ll = inferred.agg(F.sum("doc_ll")).collect()[0][0]
    n_tokens = corpus_doc.select(
        F.aggregate(
            F.transform("term_counts", lambda c: c.cast("double")),
            F.lit(0.0), lambda a, x: a + x,
        ).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    online_ppl = float(np.exp(-total_ll / n_tokens))

    _, bstate = lda.train(
        spark, corpus_doc, num_terms, K,
        max_iterations=3, max_gamma_iter=10, seed=3,
    )
    batch_ppl = bstate.perplexity_history[-1]
    assert online_ppl < batch_ppl * 2, (online_ppl, batch_ppl)
