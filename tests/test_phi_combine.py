"""The block-wise φ combine: E-step partition partials leave the kernel
as dense term blocks and are reduced across partitions by
``lda.combine_partials`` before the M-step sees one dense λ matrix."""

import numpy as np
import pandas as pd
import pytest

from mr_lda_spark.functions.special import digamma
from mr_lda_spark.plans import lda

# A large K makes the block small (TB = 32 terms), so block edges show
# on a tiny vocabulary.
K = 4096
TB = lda._phi_block_terms(K)


def _partials_df(spark, accs):
    """Spark rows as the kernel tail emits them, for partials ``accs``,
    plus one doc row that the combine must ignore."""
    tails = [
        lda._partials_frame([acc], np.full(K, p + 1.0), [-10.0 * (p + 1), 3.0, 7.0])
        for p, acc in enumerate(accs)
    ]
    doc = pd.DataFrame({"kind": ["doc"], "lang": [-1], "doc_id": [5],
                        "vec": [np.ones(K)]})
    pdf = pd.concat(tails + [doc], ignore_index=True).assign(
        term_ids=None, term_counts=None, ll=None
    )
    return spark.createDataFrame(
        pdf[lda._ESTEP_SCHEMA.fieldNames()], schema=lda._ESTEP_SCHEMA
    )


@pytest.mark.parametrize("num_rows", [2 * TB + 11, TB - 12])
def test_combine_matches_numpy_logaddexp(spark, num_rows):
    """V+1 not a multiple of TB, and V+1 smaller than one block."""
    assert TB == 32
    rng = np.random.default_rng(num_rows)
    accs = [rng.normal(-5.0, 2.0, (num_rows, K)) for _ in range(3)]
    for acc in accs:
        acc[0] = -np.inf  # row 0 is never a term
        acc[3] = -np.inf  # a dictionary term no document uses
    accs[1][:, :] = -np.inf  # a partition that saw no term: no phi rows
    if num_rows > 2 * TB:
        accs[0][: TB] = -np.inf  # one partition skips block 0
        for acc in accs:
            acc[2 * TB :] = -np.inf  # a block no partition touches

    stats = lda.combine_partials(_partials_df(spark, accs))
    assert len(stats) == len(stats.drop_duplicates(["kind", "doc_id"]))

    want = np.logaddexp.reduce(np.stack(accs), axis=0)
    log_phi = lda.phi_matrix(stats, num_rows, K)
    np.testing.assert_allclose(log_phi, want, rtol=1e-12)
    assert np.isneginf(log_phi[3]).all()
    np.testing.assert_allclose(lda.partial_sum(stats, "alpha", K), np.full(K, 6.0))
    np.testing.assert_allclose(lda.partial_sum(stats, "elbo", 3), [-60.0, 9.0, 21.0])

    # An unused term's λ stays at the η floor: E[log β] = ψ(η) − ψ(Σλ).
    elog = lda._mstep_beta(log_phi, None)
    lam_norm = np.exp(np.logaddexp(lda.DEFAULT_LOG_ETA, want[1:])).sum(axis=0)
    np.testing.assert_allclose(
        elog[3], digamma(np.exp(lda.DEFAULT_LOG_ETA)) - digamma(lam_norm), rtol=1e-12
    )


@pytest.mark.slow
def test_train_independent_of_estep_partitions(spark, monkeypatch):
    """β and the ELBO do not depend on how many partitions the E-step
    runs on.  ``lda.train`` partitions its input by the context's
    default parallelism, so that is what the test varies."""
    rng = np.random.default_rng(0)
    num_terms = 40
    docs = []
    for d in range(60):
        ids = np.sort(rng.choice(np.arange(1, num_terms + 1), rng.integers(3, 15), replace=False))
        docs.append((d, ids.tolist(), rng.integers(1, 5, ids.size).tolist()))
    corpus = spark.createDataFrame(
        docs, "doc_id long, term_ids array<int>, term_counts array<int>"
    )
    results = {}
    for parts in (1, 4):
        monkeypatch.setattr(
            type(spark.sparkContext), "defaultParallelism", property(lambda sc, n=parts: n)
        )
        _, state = lda.train(
            spark, corpus, num_terms, 5, max_iterations=3, max_gamma_iter=10, seed=3
        )
        results[parts] = state
    np.testing.assert_allclose(results[1].elog_beta, results[4].elog_beta, rtol=1e-9)
    np.testing.assert_allclose(results[1].history, results[4].history, rtol=1e-9)
