"""Native variational-EM LDA — the reference's VariationalInference
re-expressed Spark-first (SURVEY.md §3.2, §7 path B).

One EM iteration in the reference is one MapReduce job: an E-step map
phase (per-doc coordinate ascent on φ/γ, DocumentMapper.java:184-259),
a combiner/reducer M-step (log-space φ aggregation into β,
TermCombiner.java / TermReducer.java), and a driver-side Newton–Raphson
α update (VariationalInference.java:409-511).  Here:

- E-step: ``mapInPandas`` over the doc-form corpus.  γ is carried as a
  column on the corpus DataFrame (the Spark analogue of γ embedded in
  the Document record), so the E-step input partitioning is reused
  every iteration — no per-iteration shuffle of the corpus.
- φ sufficient statistics are accumulated **per partition** inside the
  kernel (dense (V+1,K) log-space matrix — the in-mapper combiner of
  DocumentMapper.java:263-313, but spill-free since it's bounded by
  model size, not corpus size) and emitted as a few dense term-block
  rows per partition (about 1 MB each); the cross-partition combine
  (``combine_partials``) is one grouped-map shuffle keyed by block that
  logaddexp-reduces ≤ partitions rows per block on the executors.
- α sufficient statistics and the ELBO are partition-aggregated in the
  same pass, by plain sum (A6/A7 — counters become plain aggregations).
- M-step finalization (η smoothing, per-topic normalizer, digamma
  transform, TermReducer.java:157-235) happens driver-side on the
  model-sized (V,K) matrix, which is then broadcast for the next
  iteration — exactly the reference's DistributedCache β broadcast
  (J3), with the same scale caveat and the same remedy (shuffle-join
  the tall β instead of broadcasting once V×K outgrows the driver).

Scale: corpus-sized data (docs × terms) only ever flows through one
cached, partition-stable DataFrame; everything model-sized (α, β, φ
stats) is either broadcast or a narrow aggregation.  100 iterations ⇒
lineage is cut with localCheckpoint each iteration.

The loop (``_train_stacked``) is written for L ≥ 1 languages over a
stacked vocabulary: ``train`` is the case L = 1, and polylingual LDA
(``plans.polylda``) stacks each document's languages and trains here
too.  The join-mode loop (``plans.lda_join``) shares the α init and
the per-iteration tail (``_end_iteration``).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_lda_spark.functions.alpha import update_alpha_scalar, update_alpha_vector
from mr_lda_spark.functions.special import digamma, gammaln
from mr_lda_spark.operators.lifecycle import (
    ReliableCheckpointSweeper,
    cut_corpus_lineage,
)

DEFAULT_LOG_ETA = math.log(1e-12)  # Settings.java:58

# Union schema for the single-pass E-step output: 'doc' rows carry the
# next corpus (terms + new gamma + per-doc ELBO); 'phi' rows carry one
# dense term block of a partition's log-phi-sum matrix (doc_id = block
# index, vec = the block's (TB, K) slice, row-major); 'alpha' rows carry
# one partition's alpha-sufficient-statistic K-vector; 'elbo' rows carry
# one partition's [ELBO, docs, tokens, term cells, padded cells].
_ESTEP_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("term_ids", T.ArrayType(T.IntegerType())),
        T.StructField("term_counts", T.ArrayType(T.IntegerType())),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("ll", T.DoubleType()),
    ]
)

# Size of one 'phi' term-block row: large enough that a partition's φ
# leaves the kernel as a few rows, small enough for Arrow batches.
_PHI_BLOCK_BYTES = 1 << 20

# E-step sub-batches (``_length_groups``): a group's padded (g, n_max, K)
# float64 tensor stays under _GROUP_BYTES, and a group closes before a
# document shorter than _GROUP_MIN_FILL × its n_max, so at least that
# share of every group's padded cells holds a term.
_GROUP_BYTES = 8 << 20
_GROUP_MIN_FILL = 0.5


def _phi_block_terms(num_topics: int) -> int:
    """TB: terms per 'phi' block row for K topics."""
    return max(1, _PHI_BLOCK_BYTES // (8 * num_topics))


def _partials_frame(phi_acc, alpha_ss: np.ndarray, totals) -> pd.DataFrame:
    """The E-step kernel's per-partition tail (kind, doc_id, vec): the
    log-φ accumulator as dense term blocks, skipping blocks no document
    touched (none without ``phi_acc``), then one 'alpha' row and one
    'elbo' row ([ELBO, docs, tokens, term cells, padded cells] of the
    partition)."""
    rows = []
    if phi_acc is not None:
        tb = _phi_block_terms(phi_acc.shape[1])
        for b0 in range(0, len(phi_acc), tb):
            block = phi_acc[b0 : b0 + tb]
            if not np.isneginf(block).all():
                rows.append(("phi", b0 // tb, block.ravel()))
    rows.append(("alpha", -1, alpha_ss))
    rows.append(("elbo", -1, np.asarray(totals, dtype=np.float64)))
    return pd.DataFrame(rows, columns=["kind", "doc_id", "vec"])


def combine_partials(out: DataFrame) -> pd.DataFrame:
    """Reduce the E-step's per-partition partials across partitions on
    the executors (the reference's kind-branched combiner,
    TermCombiner.java:19-35) and pull the result to the driver.

    One group per ``(kind, block)``: 'phi' term blocks merge by an
    elementwise logaddexp, 'alpha'/'elbo' vectors by sum.  Each group
    holds at most one row per input partition, and the driver receives
    about V/TB + 2 rows, i.e. V×K doubles whatever the partition count.
    """

    def reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        vecs = np.stack(pdf["vec"].to_numpy())
        fold = np.logaddexp.reduce if pdf["kind"].iat[0] == "phi" else np.sum
        return pdf[["kind", "doc_id"]].iloc[:1].assign(vec=[fold(vecs, axis=0)])

    partials = out.filter(F.col("kind") != "doc").select("kind", "doc_id", "vec")
    return (
        partials.groupBy("kind", "doc_id")
        .applyInPandas(reduce, partials.schema)
        .toPandas()
    )


def partial_sum(stats: pd.DataFrame, kind: str, size: int) -> np.ndarray:
    """The combined 'alpha' or 'elbo' vector (zeros when no partition
    had a document)."""
    vecs = stats.loc[stats["kind"] == kind, "vec"]
    return np.asarray(vecs.iloc[0], dtype=np.float64) if len(vecs) else np.zeros(size)


def phi_matrix(stats: pd.DataFrame, num_rows: int, num_topics: int) -> np.ndarray:
    """Reassemble combined 'phi' blocks into the dense (V+1, K) log-φ
    matrix; terms no document used stay −inf."""
    log_phi = np.full((num_rows, num_topics), -np.inf)
    tb = _phi_block_terms(num_topics)
    phi = stats[stats["kind"] == "phi"]
    for b, vec in zip(phi["doc_id"], phi["vec"]):
        log_phi[b * tb : (b + 1) * tb] = np.asarray(vec).reshape(-1, num_topics)
    return log_phi


@dataclass
class LdaState:
    """Driver-side model state snapshot for one iteration."""

    alpha: np.ndarray  # (K,)
    elog_beta: np.ndarray  # (V+1, K): E[log beta], row 0 unused
    elbo: float = float("-inf")
    history: list = field(default_factory=list)
    # Engine-reported instrumentation (BASELINE.md: mirrors the
    # reference's per-iteration counters, VariationalInference.java:255-275).
    iter_seconds: list = field(default_factory=list)
    perplexity_history: list = field(default_factory=list)
    total_tokens: float = 0.0
    # Per iteration: the E-step's term cells / padded cells.
    pad_efficiency: list = field(default_factory=list)


def init_elog_beta(num_terms: int, num_topics: int, seed: int) -> np.ndarray:
    """Seeded replacement for the reference's per-task Math.random() β
    init (retrieveBeta, DocumentMapper.java:446-463 — deliberately made
    deterministic here, SURVEY.md §7.3): log of a normalized positive
    random matrix."""
    if num_terms <= 0:
        # Degenerate vocabulary (e.g. a language absent from a corpus
        # shard): a single floored row keeps downstream shapes valid.
        return np.full((1, num_topics), DEFAULT_LOG_ETA)
    rng = np.random.default_rng(seed)
    raw = rng.random((num_terms + 1, num_topics)) + 2.0 * rng.random(
        (num_terms + 1, num_topics)
    ) / max(num_terms, 1)
    log_raw = np.log(raw)
    # Normalize per topic in log space so rows are E[log beta]-shaped.
    norm = log_raw[1:].max(axis=0) + np.log(
        np.exp(log_raw[1:] - log_raw[1:].max(axis=0)).sum(axis=0)
    )
    return log_raw - norm


def numpy_sweep_backend(
    elb: np.ndarray,
    counts_pad: np.ndarray,
    gamma: np.ndarray,
    alpha: np.ndarray,
    max_gamma_iter: int,
    gamma_tol: float,
):
    """Default (CPU/numpy) coordinate-ascent sweep kernel: runs the
    per-doc γ/φ fixed-point iterations for one padded sub-batch.

    This is the engine's compute-backend extension point.  The whole
    E-step hot loop is expressed as dense tensor ops on
    ``(B, n_max, K)`` arrays, so an accelerator backend (CuPy, JAX,
    torch) can drop in by implementing this exact signature — move the
    three inputs to device memory, run the same einsum/logsumexp
    algebra, return host ndarrays.  Everything outside this function
    (Arrow decode, padding, scatter-add combine) stays unchanged, and
    the backend callable is shipped to executors via the normal
    closure-serialization path, one resolve per task.

    The backend receives length-homogeneous sub-batches: the E-step
    splits each Arrow batch by ``_length_groups`` (documents sorted by
    length, each group under a fixed byte budget) and pads every group
    to its own n_max, so B and n_max vary from call to call.

    Inputs: ``elb`` (B, n_max, K) E[log β] gathered per token slot;
    ``counts_pad`` (B, n_max) token counts, 0 on padding; ``gamma``
    (B, K) the warm-start state (mutated freely); ``alpha`` (K,).
    Returns ``(gamma, lpn, phi)`` with ``lpn`` the log-normalized φ of
    each document's LAST sweep, both (B, n_max, K).  With ``gamma_tol``
    > 0 a document stops sweeping once its own relative γ change is
    below it (its γ, lpn and φ freeze), so its result does not depend
    on which other documents share the sub-batch; the loop ends when
    every document has stopped.
    """
    B = len(gamma)
    act = np.arange(B)  # documents still sweeping
    lpn = phi = None
    for _ in range(max_gamma_iter):
        sub = slice(None) if act.size == B else act
        lp = elb[sub] + digamma(gamma[sub])[:, None, :]
        m = lp.max(axis=2, keepdims=True)
        norm = m + np.log(np.exp(lp - m).sum(axis=2, keepdims=True))
        lpn_s = lp - norm  # (B_active, n_max, K)
        phi_s = np.exp(lpn_s)
        if act.size == B:
            lpn, phi = lpn_s, phi_s
        else:
            lpn[act], phi[act] = lpn_s, phi_s
        # γ = α + Σ_w c_w φ_w — φ is a normalized probability,
        # so the sum is numerically safe in LINEAR space; the
        # log-space logaddexp fold the reference uses
        # (DocumentMapper.java:237-247) is only needed when the
        # accumulator itself lives in log space.  Linear form
        # saves a (B, n_max+1, K) concatenate + two exp/log
        # passes per sweep (~1.5× sweep cost at sf0.1).
        new_gamma = alpha[None, :] + np.einsum("bn,bnk->bk", counts_pad[sub], phi_s)
        # Convergence-gated sweeps (SURVEY §7.3): the reference burns
        # a fixed 100 sweeps per doc per iteration (Settings.java:54)
        # — warm-started iterations converge in a handful.
        done = np.max(np.abs(new_gamma - gamma[sub]) / gamma[sub], axis=1) < gamma_tol
        gamma[sub] = new_gamma
        act = act[~done]
        if not act.size:
            break
    return gamma, lpn, phi


def _length_groups(lens: np.ndarray, num_topics: int) -> list:
    """Split one batch's non-empty documents (``lens``: each one's
    padded width, 0 = empty) into length-sorted sub-batches, longest
    first.  A group closes when one more document would take its
    (g, n_max, K) float64 tensor past ``_GROUP_BYTES``, or when the
    next document is shorter than ``_GROUP_MIN_FILL`` × the group's
    n_max; a document wider than the budget is a group on its own.
    Returns arrays of batch row indices, each group's widest first."""
    order = np.argsort(-lens, kind="stable")
    order = order[lens[order] > 0]
    groups, start = [], 0
    for i in range(1, len(order) + 1):
        width = lens[order[start]]
        if (
            i == len(order)
            or lens[order[i]] < _GROUP_MIN_FILL * width
            or (i - start + 1) * width * num_topics * 8 > _GROUP_BYTES
        ):
            groups.append(order[start:i])
            start = i
    return groups


def _pad(arrays: list, width: int, fill=0.0, dtype=np.float64) -> np.ndarray:
    """Stack 1-D (or (n, K)) arrays into one (g, width[, K]) array,
    ``fill`` past each array's end."""
    lens = np.array([len(a) for a in arrays])
    out = np.full((len(arrays), width) + np.shape(arrays[0])[1:], fill, dtype)
    out[np.arange(width) < lens[:, None]] = np.concatenate(arrays)
    return out


def _estep_batch(
    term_lists, count_lists, carried, alpha, max_gamma_iter, gamma_tol,
    sweep, gather, on_phi,
):
    """One Arrow batch of the E-step, shared by the broadcast, PolyLDA
    and join kernels (DocumentMapper.java:184-259 semantics per doc).

    The batch's non-empty documents (P7) run through ``sweep`` in
    ``_length_groups`` sub-batches, each padded to its own n_max.
    ``gather(rows, terms_pad)`` returns a group's (g, n_max, K)
    E[log β] slots; ``on_phi(terms, log_phi)``, when learning, folds
    the group's per-token log c·φ into the partition accumulator.
    ``carried`` is the batch's γ column (None: every document starts
    at γ⁰ = α + N/K).

    Returns ``keep`` (the non-empty documents' batch rows, in input
    order), their γ, doc ELBO and α-statistic terms ψ(γ) − ψ(Σγ), and
    the batch's [ELBO, docs, tokens, term cells, padded cells].
    """
    K = len(alpha)
    l_alpha = float(gammaln(alpha.sum()) - gammaln(alpha).sum())
    lens = np.array([t.size for t in term_lists], dtype=np.int64)
    n_tokens = np.array([c.sum() for c in count_lists], dtype=np.float64)
    gamma = np.tile(alpha, (len(lens), 1)) + n_tokens[:, None] / K
    if carried is not None:
        for i, g in enumerate(carried):
            if g is not None and len(g) == K:
                gamma[i] = np.asarray(g, dtype=np.float64)
    ll_phi = np.zeros(len(lens))
    padded = 0
    for rows in _length_groups(lens, K):
        terms_pad = _pad([term_lists[i] for i in rows], lens[rows[0]], 0, np.int64)
        counts_pad = _pad([count_lists[i] for i in rows], lens[rows[0]])
        elb = gather(rows, terms_pad)
        gamma[rows], lpn, phi = sweep(
            elb, counts_pad, gamma[rows], alpha, max_gamma_iter, gamma_tol
        )
        ll_phi[rows] = (counts_pad[:, :, None] * phi * (elb - lpn)).sum(axis=(1, 2))
        padded += counts_pad.size
        if on_phi is not None:
            valid = counts_pad > 0
            on_phi(terms_pad[valid], lpn[valid] + np.log(counts_pad[valid])[:, None])
    keep = np.flatnonzero(lens > 0)
    gamma = gamma[keep]
    sum_gamma = gamma.sum(axis=1)
    ll_gamma = gammaln(gamma).sum(axis=1) - gammaln(sum_gamma)
    doc_ll = l_alpha + ll_gamma + ll_phi[keep]
    totals = [doc_ll.sum(), len(keep), n_tokens.sum(), lens.sum(), padded]
    return (
        keep, gamma, doc_ll, digamma(gamma) - digamma(sum_gamma)[:, None],
        np.asarray(totals, dtype=np.float64),
    )


def _estep_kernel(
    alpha: np.ndarray,
    elog_beta,
    max_gamma_iter: int,
    learning: bool,
    random_start_gamma: bool,
    gamma_tol: float = 0.0,
    sweep_backend=None,
):
    """Build the mapInPandas function for one E-step pass.

    ``elog_beta`` is either the (V+1, K) ndarray or a
    ``sparkContext.broadcast`` of it.  Pass the broadcast on a real
    cluster: a closure-captured matrix is re-serialized into every
    task binary, while a broadcast ships one torrent copy per executor
    — the reference's DistributedCache β distribution (J3).  α is tiny
    and stays a plain closure capture.

    Per document (DocumentMapper.java:184-259 semantics):
      γ⁰ = carried γ, else α + N/K
      repeat max_gamma_iter times:             # reference: fixed 100
        dg = ψ(γ);  logγ' = log α
        per term w:  logφ_w = E[log β_w] + dg  (K-vector)
                     logφ_w -= logsumexp(logφ_w)
                     ELBO_φ += c_w · φ_w · (E[log β_w] − logφ_w)
                     logγ' = logaddexp(logγ', logφ_w + log c_w)
        γ = exp(logγ')
      doc ELBO = L_α + Σ lnΓ(γ) − lnΓ(Σγ) + ELBO_φ
    """
    K = len(alpha)
    elog_beta_ref = elog_beta
    sweep = sweep_backend if sweep_backend is not None else numpy_sweep_backend

    def run(batches):
        # Resolve the broadcast handle executor-side (one fetch per
        # executor process, shared across its tasks).
        elog_beta = (
            elog_beta_ref.value
            if hasattr(elog_beta_ref, "value")
            else elog_beta_ref
        )
        phi_acc = np.full((elog_beta.shape[0], K), -np.inf) if learning else None
        alpha_ss = np.zeros(K)
        totals = np.zeros(5)

        for pdf in batches:
            keep, gamma, doc_ll, alpha_terms, batch_totals = _estep_batch(
                [np.asarray(t, dtype=np.int64) for t in pdf["term_ids"]],
                [np.asarray(c, dtype=np.float64) for c in pdf["term_counts"]],
                None if random_start_gamma or "gamma" not in pdf.columns
                else pdf["gamma"],
                alpha, max_gamma_iter, gamma_tol, sweep,
                lambda rows, terms_pad: elog_beta[terms_pad],
                # In-mapper combine (A3): indexed log-space scatter-add
                # into the partition accumulator.
                (lambda t, v: np.logaddexp.at(phi_acc, t, v)) if learning else None,
            )
            if not keep.size:
                continue
            alpha_ss += alpha_terms.sum(axis=0)
            totals += batch_totals
            # Doc rows carry ONLY gamma + ll — the static term arrays
            # never round-trip back through Arrow (the corpus is
            # checkpointed once and joined to gamma each iteration).
            yield pd.DataFrame(
                {
                    "kind": "doc",
                    "doc_id": pdf["doc_id"].iloc[keep].astype("int64").values,
                    "term_ids": None,
                    "term_counts": None,
                    "vec": list(gamma),
                    "ll": doc_ll,
                }
            )

        if not totals[1]:
            return
        tail = _partials_frame(phi_acc, alpha_ss, totals).assign(
            term_ids=None, term_counts=None, ll=None
        )
        yield tail[_ESTEP_SCHEMA.fieldNames()]

    return run


def _mstep_beta(
    log_phi: np.ndarray, log_eta: np.ndarray | None, truncate_beta: int | None = None
) -> np.ndarray:
    """M-step finalization on one language's model-sized matrix
    (TermReducer.java:157-235 semantics): λ_kv = logaddexp(log η_kv,
    logφ_kv), then E[log β] = ψ(e^λ) − ψ(Σ_v e^λ).

    ``log_phi`` is the combined (V+1, K) log-φ-sum matrix
    (``phi_matrix``), −inf for terms no document used.  With
    ``truncate_beta`` = N < V only each topic's top N terms keep their
    value; the rest drop to the η floor.
    """
    lam =np.logaddexp(DEFAULT_LOG_ETA if log_eta is None else log_eta, log_phi)
    lam_exp = np.exp(lam[1:])  # rows 1..V
    norm = lam_exp.sum(axis=0)  # (K,)
    elog = np.full(log_phi.shape, DEFAULT_LOG_ETA)
    elog[1:] = digamma(lam_exp) - digamma(norm)[None, :]
    if truncate_beta is not None and truncate_beta < len(elog) - 1:
        # The reference designed (then disabled) approximate top-k
        # beta to shrink the per-mapper model
        # (TermReducer.java:34-38, -truncatebeta).  Working version:
        # keep each topic's top-N terms, floor the tail — at scale
        # the broadcast then ships N×K entries + one floor scalar
        # instead of V×K.
        kth = np.partition(elog[1:], -truncate_beta, axis=0)[-truncate_beta]
        elog[1:] = np.where(elog[1:] >= kth[None, :], elog[1:], DEFAULT_LOG_ETA)
    return elog


def _initial_alpha(alpha_init, num_topics: int) -> np.ndarray:
    """α⁰ for every EM loop: 1/K (VariationalInference.java:159-160
    spirit), a scalar broadcast to K, or a copy of a given vector."""
    if alpha_init is None:
        return np.full(num_topics, 1.0 / num_topics)
    if np.isscalar(alpha_init):
        return np.full(num_topics, float(alpha_init))
    return np.asarray(alpha_init, dtype=np.float64).copy()


def _lang_bounds(num_terms_per_lang) -> np.ndarray:
    """Stacked-vocabulary row bounds: language l's E[log β] (V_l + 1
    rows, row 0 unused) is rows bounds[l]:bounds[l+1], so its term t is
    stacked row bounds[l] + t.  One language: [0, V+1]."""
    return np.cumsum([0] + [v + 1 for v in num_terms_per_lang])


def _end_iteration(
    state: LdaState, alpha_ss: np.ndarray, totals: np.ndarray,
    symmetric_alpha: bool, iter_t0: float, converge: float,
) -> bool:
    """The per-iteration tail shared by the broadcast and join loops:
    the Newton–Raphson α update over the documents the E-step processed
    (``totals`` = the summed 'elbo' partials [ELBO, docs, tokens, term
    cells, padded cells] — documents the E-step skips, P7, are in
    neither D nor the α statistic), then the ELBO, per-token perplexity
    and padding-efficiency history and the iteration's wall time.
    Returns True once the relative ELBO change is within ``converge``."""
    num_docs, elbo = int(totals[1]), float(totals[0])
    if symmetric_alpha:
        # Keep alpha symmetric: the scalar update on the summed
        # statistic, reference-style.
        a = update_alpha_scalar(
            len(alpha_ss), num_docs, float(state.alpha[0]), float(alpha_ss.sum())
        )
        state.alpha = np.full(len(alpha_ss), a)
    else:
        state.alpha = update_alpha_vector(num_docs, state.alpha, alpha_ss)
    state.elbo = elbo
    state.history.append(elbo)
    state.iter_seconds.append(round(time.perf_counter() - iter_t0, 3))
    if totals[4] > 0:
        state.pad_efficiency.append(float(totals[3] / totals[4]))
    state.total_tokens = float(totals[2])
    if state.total_tokens > 0:
        # Per-token perplexity from the variational bound — the
        # standard held-out-style metric the reference tracks via
        # its LOG_LIKELIHOOD counter.
        state.perplexity_history.append(float(np.exp(-elbo / state.total_tokens)))
    h = state.history
    return len(h) > 1 and abs((h[-1] - h[-2]) / h[-2]) <= converge


def train(
    spark: SparkSession,
    corpus_doc: DataFrame,
    num_terms: int,
    num_topics: int,
    max_iterations: int = 30,  # Settings.java:43
    max_gamma_iter: int = 50,  # reference fixes 100 (Settings.java:54)
    alpha_init: float | np.ndarray | None = None,
    symmetric_alpha: bool = False,
    log_eta: np.ndarray | None = None,
    seed: int = 42,
    converge: float = 1e-6,  # Settings.java:56
    random_start_gamma: bool = False,
    snapshot_dir: str | None = None,
    truncate_beta: int | None = None,
    gamma_tol: float = 0.0,
    estep_backend=None,
    corpus_checkpoint: bool | str = "local",
) -> tuple[DataFrame, LdaState]:
    """Run the EM loop.  Returns (corpus with final γ column, state).

    ``corpus_doc`` must have columns (doc_id, term_ids, term_counts)
    and optionally gamma (resume — the reference's -modelindex).

    ``estep_backend`` swaps the per-batch sweep kernel (see
    ``numpy_sweep_backend`` for the contract) — the accelerator hook:
    a CuPy/JAX implementation of the same (B, n_max, K) tensor algebra
    plugs in here without touching the Spark plan.

    ``corpus_checkpoint`` selects the training lifecycle's lineage-cut
    tier ("local" default / "reliable" for preemptible clusters —
    ``operators/lifecycle.cut_corpus_lineage``); it governs BOTH the
    one-time corpus cut and the per-iteration carried-γ cut, because a
    lost block of either kills a mid-flight training run equally.
    """
    cols = ["doc_id", "term_ids", "term_counts"]
    if "gamma" in corpus_doc.columns:
        cols.append("gamma")
    return _train_stacked(
        spark, corpus_doc.select(*cols), [num_terms], num_topics,
        max_iterations=max_iterations,
        max_gamma_iter=max_gamma_iter, alpha_init=alpha_init,
        symmetric_alpha=symmetric_alpha, log_eta=log_eta, seed=seed,
        converge=converge, random_start_gamma=random_start_gamma,
        snapshot_dir=snapshot_dir, truncate_beta=truncate_beta,
        gamma_tol=gamma_tol, estep_backend=estep_backend,
        corpus_checkpoint=corpus_checkpoint,
    )


def _train_stacked(
    spark: SparkSession,
    corpus: DataFrame,
    num_terms_per_lang: list,
    num_topics: int,
    *,
    max_iterations: int,
    max_gamma_iter: int,
    alpha_init,
    seed: int,
    converge: float,
    gamma_tol: float,
    corpus_checkpoint: bool | str,
    symmetric_alpha: bool = False,
    log_eta: np.ndarray | None = None,
    random_start_gamma: bool = False,
    snapshot_dir: str | None = None,
    truncate_beta: int | None = None,
    estep_backend=None,
) -> tuple[DataFrame, LdaState]:
    """The broadcast-β EM loop for L ≥ 1 languages (mono LDA is L = 1;
    polylingual LDA, ``plans.polylda``, is the same model with one β
    per language and a shared γ).

    ``corpus`` carries (doc_id, term_ids, term_counts) on the stacked
    vocabulary (language l's term t is row ``_lang_bounds[l] + t``),
    optionally gamma, and any other columns, which ride the one corpus
    checkpoint into the returned relation.  β is initialised per
    language with ``seed + l`` and stacked; each iteration broadcasts
    the stacked matrix, and the M-step normalises each language's row
    slice on its own.  Returns (corpus with final γ, state with the
    stacked β)."""
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    K = num_topics
    bounds = _lang_bounds(num_terms_per_lang)
    state = LdaState(
        alpha=_initial_alpha(alpha_init, K),
        elog_beta=np.concatenate([
            init_elog_beta(v, K, seed + lang)
            for lang, v in enumerate(num_terms_per_lang)
        ]),
    )

    # The corpus (term arrays) is checkpointed ONCE, partitioned by
    # doc_id, and never re-materialized: each iteration joins the small
    # carried gamma table back onto it.  At 100 TB this is the
    # difference between O(corpus) and O(D×K) per-iteration I/O.
    # Reliable mode: superseded per-iteration gamma checkpoints are
    # deleted at the next loop top, bounding checkpoint-store disk at
    # the live generation (gamma gen 0 lives inside `base` and is
    # never slot-tracked, so the corpus cut always survives).
    ckpt_gc = ReliableCheckpointSweeper(spark)
    base = cut_corpus_lineage(  # the ONE materialization of the input
        corpus.repartition(spark.sparkContext.defaultParallelism, "doc_id"),
        corpus_checkpoint,
    )
    static_corpus = base.select("doc_id", "term_ids", "term_counts")
    gamma_df = base.select("doc_id", "gamma") if "gamma" in base.columns else None

    for it in range(max_iterations):
        iter_t0 = time.perf_counter()
        ckpt_gc.sweep()  # generation it-2's gamma is unreachable now
        # Broadcast the V×K model once per iteration (torrent, one copy
        # per executor) instead of closure-capturing it into every task.
        eb_bc = spark.sparkContext.broadcast(state.elog_beta)
        kernel = _estep_kernel(
            state.alpha,
            eb_bc,
            max_gamma_iter,
            learning=True,
            random_start_gamma=random_start_gamma and it == 0,
            gamma_tol=gamma_tol,
            sweep_backend=estep_backend,
        )
        if gamma_df is None:
            inp = static_corpus.withColumn(
                "gamma", F.lit(None).cast("array<double>")
            )
        else:
            # Corpus side is already hash-partitioned on doc_id; only
            # the small gamma table shuffles.
            inp = static_corpus.join(gamma_df, "doc_id", "left")
        out = inp.mapInPandas(kernel, schema=_ESTEP_SCHEMA).persist()

        # One stats pull per iteration: the partitions' dense φ term
        # blocks and α/ELBO partials reduce block-wise on the executors
        # (≤ P rows per block for P input partitions), so the shuffle
        # moves about P×V×K doubles in a few large rows and the driver
        # receives V×K doubles at any P.
        stats = combine_partials(out)
        gamma_df = ckpt_gc.cut(  # D×K doubles; cuts lineage
            out.filter(F.col("kind") == "doc").select(
                "doc_id", F.col("vec").alias("gamma")
            ),
            corpus_checkpoint,
            slot="gamma",
        )
        out.unpersist()
        # Both consumers (stats collect + gamma localCheckpoint) have
        # executed; drop the executor-side model copies.
        eb_bc.unpersist()

        # M-step: each language's β from its slice of the φ stats;
        # alpha by Newton-Raphson.
        log_phi = phi_matrix(stats, bounds[-1], K)
        state.elog_beta = np.concatenate([
            _mstep_beta(
                log_phi[a:b], None if log_eta is None else log_eta[a:b], truncate_beta
            )
            for a, b in zip(bounds, bounds[1:])
        ])
        done = _end_iteration(
            state, partial_sum(stats, "alpha", K), partial_sum(stats, "elbo", 5),
            symmetric_alpha, iter_t0, converge,
        )
        if snapshot_dir is not None:
            _write_snapshot(spark, snapshot_dir, it + 1, gamma_df, state)
        if done:
            break

    ckpt_gc.sweep()  # last superseded generation; the live gamma
    # backs the returned relation
    rest = base.drop("gamma")
    final = (
        rest.join(gamma_df, "doc_id", "left")
        if gamma_df is not None
        else rest.withColumn("gamma", F.lit(None).cast("array<double>"))
    )
    return final, state


def _write_snapshot(
    spark: SparkSession, out_dir: str, iteration: int, gamma_df: DataFrame, state: LdaState
) -> None:
    """Per-iteration snapshot set (the reference's alpha-<i> / beta-<i>
    / gamma-<i> directories, VariationalInference.java:346-379): gamma
    parquet + alpha/instrumentation JSON.  Beta is model-sized and
    recoverable from state; written on demand via beta_dataframe."""
    import json
    import os

    gamma_df.select("doc_id", "gamma").write.mode("overwrite").parquet(
        os.path.join(out_dir, f"gamma-{iteration}")
    )
    with open(os.path.join(out_dir, f"alpha-{iteration}.json"), "w") as fh:
        json.dump(
            {
                "alpha": state.alpha.tolist(),
                "elbo": state.elbo,
                "iter_seconds": state.iter_seconds,
                "perplexity": state.perplexity_history,
            },
            fh,
        )


def infer(
    spark: SparkSession,
    corpus_doc: DataFrame,
    state: LdaState,
    max_gamma_iter: int = 50,
    estep_backend=None,
) -> DataFrame:
    """Test/held-out mode (-test: learning=false, single γ-only pass —
    VariationalInferenceOptions.java:166-178).  Returns (doc_id, gamma,
    doc_ll).  ``estep_backend`` as in ``train``."""
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    kernel = _estep_kernel(
        state.alpha,
        spark.sparkContext.broadcast(state.elog_beta),
        max_gamma_iter,
        learning=False,
        random_start_gamma=False,
        sweep_backend=estep_backend,
    )
    if "gamma" not in corpus_doc.columns:
        corpus_doc = corpus_doc.withColumn(
            "gamma", F.lit(None).cast("array<double>")
        )
    out = corpus_doc.select(
        "doc_id", "term_ids", "term_counts", "gamma"
    ).mapInPandas(kernel, schema=_ESTEP_SCHEMA)
    return out.filter(F.col("kind") == "doc").select(
        "doc_id", F.col("vec").alias("gamma"), F.col("ll").alias("doc_ll")
    )


def beta_dataframe(spark: SparkSession, state: LdaState) -> DataFrame:
    """Materialize E[log β] as the tall BETA table (schemas.BETA).

    Built from the ndarray via one vectorized pandas frame (Arrow
    transfer) — at V=100k, K=100 the V×K rows would otherwise crawl
    through a 10M-tuple Python list and row-at-a-time pickle."""
    from mr_lda_spark.schemas import BETA

    V1, K = state.elog_beta.shape
    pdf = pd.DataFrame(
        {
            "topic": np.tile(np.arange(K, dtype=np.int32), V1 - 1),
            "term_id": np.repeat(np.arange(1, V1, dtype=np.int32), K),
            "log_beta": state.elog_beta[1:].ravel().astype(np.float64),
        }
    )
    return spark.createDataFrame(pdf, schema=BETA)
