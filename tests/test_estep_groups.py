"""Length-grouped E-step sub-batches: the broadcast and join kernels
split each Arrow batch into length-sorted groups, each padded to its
own width under a byte budget.  Their ``run`` closures are driven
directly on pandas batches (no Spark) and checked against a
one-document-at-a-time reference of the coordinate ascent.  PolyLDA
runs the broadcast kernel on its languages stacked into one
vocabulary (``polylda.stack_languages``)."""

import numpy as np
import pandas as pd
import pytest

from mr_lda_spark.functions.special import digamma, gammaln
from mr_lda_spark.plans import lda, lda_join

K = 4
ITERS = 40
V = (300, 200)  # per-language vocabulary sizes; mono uses the first
ALPHA = np.array([0.2, 0.3, 0.25, 0.15])
# A budget that a 200-term document at K = 4 overflows on its own
# (200 × 4 × 8 B > 4 KiB), so every cut rule fires on the test batch.
SMALL_BUDGET = 4096
# Large enough that the documents stop at different sweeps within ITERS.
TOL = 1e-3


def _ref_doc(elb, counts, gamma, tol):
    """Per-document coordinate ascent (DocumentMapper.java:184-259) on
    one unpadded document: (γ, doc ELBO, per-token log c·φ)."""
    for _ in range(ITERS):
        lp = elb + digamma(gamma)
        lpn = lp - np.logaddexp.reduce(lp, axis=1, keepdims=True)
        new = ALPHA + counts @ np.exp(lpn)
        converged = np.max(np.abs(new - gamma) / gamma) < tol
        gamma = new
        if converged:
            break
    ll = (
        gammaln(ALPHA.sum()) - gammaln(ALPHA).sum()
        + (gammaln(gamma).sum() - gammaln(gamma.sum()))
        + np.sum(counts[:, None] * np.exp(lpn) * (elb - lpn))
    )
    return gamma, ll, lpn + np.log(counts)[:, None]


def _lengths(rng, n):
    """Heavy-tailed lengths with an empty document, one document wider
    than SMALL_BUDGET allows and a run of equal lengths."""
    lens = np.clip(rng.lognormal(2.5, 1.0, n).astype(int), 1, 120)
    lens[3] = 0
    lens[7] = 200
    lens[10:14] = 17
    return lens


def _doc(rng, length, vocab):
    terms = np.sort(rng.choice(np.arange(1, vocab + 1), length, replace=False))
    return terms.astype(np.int32), rng.integers(1, 5, length).astype(np.int32)


def _carried(rng, n):
    """Carried γ for every other document; the rest start at α + N/K."""
    return [rng.uniform(0.5, 3.0, K) if i % 2 else None for i in range(n)]


def _mono_batch(seed=0, n=40):
    rng = np.random.default_rng(seed)
    docs = [_doc(rng, int(m), V[0]) for m in _lengths(rng, n)]
    return pd.DataFrame({
        "doc_id": np.arange(100, 100 + n, dtype=np.int64),
        "term_ids": [t for t, _ in docs],
        "term_counts": [c for _, c in docs],
        "gamma": _carried(rng, n),
    })


def _poly_batch(seed=0, n=40):
    rng = np.random.default_rng(seed)
    lens = _lengths(rng, n)
    ids, cts = [], []
    for i, m in enumerate(lens):
        split = [int(m), 0] if i % 5 == 1 else [0, int(m)] if i % 5 == 2 else [
            (int(m) + 1) // 2, int(m) // 2]  # some docs miss a language
        pairs = [_doc(rng, s, v) for s, v in zip(split, V)]
        ids.append([t for t, _ in pairs])
        cts.append([c for _, c in pairs])
    return pd.DataFrame({
        "doc_id": np.arange(100, 100 + n, dtype=np.int64),
        "lang_term_ids": ids,
        "lang_term_counts": cts,
        "gamma": _carried(rng, n),
    })


def _elog_beta(seed, vocab):
    return lda.init_elog_beta(vocab, K, seed)


def _run(kernel, pdf):
    """Drive a kernel over ``pdf`` split into two Arrow batches."""
    half = len(pdf) // 2
    frames = kernel(iter([pdf.iloc[:half], pdf.iloc[half:]]))
    # Drop the all-None columns (the term arrays doc rows never carry).
    return pd.concat([f.dropna(axis=1, how="all") for f in frames], ignore_index=True)


def _doc_terms(r, offsets):
    """A batch row's (terms, counts); PolyLDA rows (``offsets`` given)
    on the stacked vocabulary."""
    if offsets is None:
        return np.asarray(r.term_ids, dtype=np.int64), np.asarray(r.term_counts)
    return (
        np.concatenate([o + np.asarray(t, dtype=np.int64)
                        for o, t in zip(offsets, r.lang_term_ids)]),
        np.concatenate(list(r.lang_term_counts)),
    )


def _reference(pdf, beta, tol, offsets=None):
    """Per-document reference over the non-empty documents of ``pdf``:
    (doc ids, γ, doc ELBO, α statistic, log-φ accumulator, tokens, cells)."""
    ids, gammas, lls = [], [], []
    acc = np.full((len(beta), K), -np.inf)
    tokens = cells = 0.0
    for r in pdf.itertuples():
        terms, counts = _doc_terms(r, offsets)
        if terms.size == 0:
            continue
        counts = counts.astype(np.float64)
        g0 = r.gamma if r.gamma is not None else ALPHA + counts.sum() / K
        g, ll, log_phi = _ref_doc(beta[terms], counts, np.array(g0, dtype=float), tol)
        np.logaddexp.at(acc, terms, log_phi)
        ids.append(r.doc_id)
        gammas.append(g)
        lls.append(ll)
        tokens += counts.sum()
        cells += terms.size
    gammas = np.array(gammas)
    alpha_ss = (digamma(gammas) - digamma(gammas.sum(axis=1))[:, None]).sum(axis=0)
    return np.array(ids), gammas, np.array(lls), alpha_ss, acc, tokens, cells


def _close(actual, expected):
    np.testing.assert_allclose(actual, expected, rtol=1e-12, atol=1e-12)


def _check_broadcast_like(out, pdf, beta, tol, offsets=None):
    """Doc rows in input order; γ, ll and the α/ELBO/φ partials match
    the per-document reference."""
    ids, gammas, lls, alpha_ss, acc, tokens, cells = _reference(pdf, beta, tol, offsets)
    docs = out[out["kind"] == "doc"]
    assert docs["doc_id"].tolist() == ids.tolist()
    _close(np.stack(docs["vec"].to_numpy()), gammas)
    _close(docs["ll"].to_numpy(), lls)

    alpha_rows = out[out["kind"] == "alpha"]["vec"]
    _close(np.sum(np.stack(alpha_rows.to_numpy()), axis=0), alpha_ss)
    elbo = np.sum(np.stack(out[out["kind"] == "elbo"]["vec"].to_numpy()), axis=0)
    _close(elbo[:4], [lls.sum(), len(ids), tokens, cells])
    # Padding efficiency: every group's documents are at least half
    # its width, so term cells / padded cells ≥ 0.5.
    assert cells / elbo[4] >= lda._GROUP_MIN_FILL

    _close(lda.phi_matrix(out, len(acc), K), acc)


@pytest.fixture(params=["default_budget", "small_budget"])
def budget(request, monkeypatch):
    if request.param == "small_budget":
        monkeypatch.setattr(lda, "_GROUP_BYTES", SMALL_BUDGET)
    return request.param


@pytest.mark.parametrize("tol", [0.0, TOL])
def test_broadcast_kernel_matches_per_doc_reference(budget, tol):
    pdf = _mono_batch()
    beta = _elog_beta(1, V[0])
    kernel = lda._estep_kernel(ALPHA, beta, ITERS, True, False, gamma_tol=tol)
    out = _run(kernel, pdf)
    _check_broadcast_like(out, pdf, beta, tol)


def _stacked(pdf):
    """A PolyLDA batch as ``polylda.stack_languages`` hands it to the
    broadcast kernel: each document's language slots concatenated,
    language l's term t shifted to stacked row bounds[l] + t."""
    offsets = lda._lang_bounds(V)[:-1]
    return pd.DataFrame({
        "doc_id": pdf["doc_id"],
        "term_ids": [
            np.concatenate([o + np.asarray(t) for o, t in zip(offsets, ids)])
            for ids in pdf["lang_term_ids"]
        ],
        "term_counts": [np.concatenate(list(c)) for c in pdf["lang_term_counts"]],
        "gamma": pdf["gamma"],
    })


def _poly_beta():
    """Per-language β (language l from seed 1 + l), stacked."""
    return np.concatenate([_elog_beta(1 + lang, v) for lang, v in enumerate(V)])


@pytest.mark.parametrize("tol", [0.0, TOL])
def test_poly_kernel_matches_per_doc_reference(budget, tol):
    pdf = _poly_batch()
    stacked = _poly_beta()
    kernel = lda._estep_kernel(ALPHA, stacked, ITERS, True, False, gamma_tol=tol)
    out = _run(kernel, _stacked(pdf))
    _check_broadcast_like(out, pdf, stacked, tol, offsets=[0, V[0] + 1])


@pytest.mark.parametrize("tol", [0.0, TOL])
def test_join_kernel_matches_per_doc_reference(budget, tol):
    pdf = _mono_batch()
    beta = _elog_beta(1, V[0])
    pdf["betas"] = [list(beta[t]) for t in pdf["term_ids"]]
    out = _run(lda_join._join_estep_kernel(ALPHA, ITERS, gamma_tol=tol), pdf)

    ids, gammas, lls, alpha_ss, acc, tokens, cells = _reference(pdf, beta, tol)
    docs = out[out["kind"] == "doc"]
    assert docs["id"].tolist() == ids.tolist()
    _close(np.stack(docs["vec"].to_numpy()), gammas)
    _close(docs["ll"].to_numpy(), lls)
    # One 'alpha' and one 'elbo' partial for the partition, as the
    # broadcast kernel emits them.
    alpha_rows = out[out["kind"] == "alpha"]
    assert alpha_rows["id"].tolist() == [-1]
    _close(np.stack(alpha_rows["vec"].to_numpy()).sum(axis=0), alpha_ss)
    elbo_rows = out[out["kind"] == "elbo"]
    assert elbo_rows["id"].tolist() == [-1]
    _close(elbo_rows["vec"].iat[0][:4], [lls.sum(), len(ids), tokens, cells])
    phi = out[out["kind"] == "phi"]
    got = np.full_like(acc, -np.inf)
    for t, vec in zip(phi["id"], phi["vec"]):
        got[t] = np.logaddexp(got[t], vec)  # one row per term per flush
    _close(got, acc)


def test_length_groups_cut_rules(monkeypatch):
    monkeypatch.setattr(lda, "_GROUP_BYTES", SMALL_BUDGET)
    lens = _lengths(np.random.default_rng(0), 40)
    groups = lda._length_groups(lens, K)
    flat = np.concatenate(groups)
    assert sorted(flat.tolist()) == np.flatnonzero(lens > 0).tolist()
    assert (np.diff(lens[flat]) <= 0).all()  # longest first
    for g in groups:
        width = lens[g[0]]
        assert lens[g].max() == width
        assert (lens[g] >= lda._GROUP_MIN_FILL * width).all()
        assert len(g) == 1 or len(g) * width * K * 8 <= SMALL_BUDGET
    assert [7] in [g.tolist() for g in groups]  # wider than the budget: alone
    # The heavy tail would leave one batch-wide padding mostly empty.
    assert lens.sum() / (len(flat) * lens.max()) < lda._GROUP_MIN_FILL


def _gamma_by_doc(kernel, pdf):
    docs = _run(kernel, pdf)
    docs = docs[docs["kind"] == "doc"]
    return {int(d): np.asarray(v) for d, v in zip(docs["doc_id"], docs["vec"])}


@pytest.mark.parametrize("kind", ["broadcast", "poly"])
def test_gamma_tol_is_per_document(budget, kind):
    """With gamma_tol > 0 a document's γ does not depend on which other
    documents share its batch or sub-batch."""
    if kind == "broadcast":
        pdf = _mono_batch(seed=3)
        beta = _elog_beta(1, V[0])
        kernel = lda._estep_kernel(ALPHA, beta, ITERS, True, False, gamma_tol=TOL)
    else:
        pdf = _stacked(_poly_batch(seed=3))
        kernel = lda._estep_kernel(ALPHA, _poly_beta(), ITERS, True, False, gamma_tol=TOL)
    base = _gamma_by_doc(kernel, pdf)
    shuffled = _gamma_by_doc(kernel, pdf.sample(frac=1.0, random_state=5))
    subset = _gamma_by_doc(kernel, pdf.iloc[::3])
    assert shuffled.keys() == base.keys()
    for other in (shuffled, subset):
        for doc_id, g in other.items():
            np.testing.assert_allclose(g, base[doc_id], rtol=1e-12)
