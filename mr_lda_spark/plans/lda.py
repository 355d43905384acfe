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
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_lda_spark.functions.alpha import update_alpha_vector
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
# one partition's [ELBO, docs, tokens].
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


def _phi_block_terms(num_topics: int) -> int:
    """TB: terms per 'phi' block row for K topics."""
    return max(1, _PHI_BLOCK_BYTES // (8 * num_topics))


def _partials_frame(phi_accs: list, alpha_ss: np.ndarray, elbo: list) -> pd.DataFrame:
    """The E-step kernel's per-partition tail (kind, lang, doc_id, vec):
    each language's log-φ accumulator as dense term blocks, skipping
    blocks no document touched, then one 'alpha' row and one 'elbo' row
    ([ELBO, docs, tokens] of the partition)."""
    rows = []
    for lang, acc in enumerate(phi_accs):
        tb = _phi_block_terms(acc.shape[1])
        for b0 in range(0, len(acc), tb):
            block = acc[b0 : b0 + tb]
            if not np.isneginf(block).all():
                rows.append(("phi", lang, b0 // tb, block.ravel()))
    rows.append(("alpha", -1, -1, alpha_ss))
    rows.append(("elbo", -1, -1, np.asarray(elbo, dtype=np.float64)))
    return pd.DataFrame(rows, columns=["kind", "lang", "doc_id", "vec"])


def combine_partials(out: DataFrame, keys: tuple = ("kind", "doc_id")) -> pd.DataFrame:
    """Reduce the E-step's per-partition partials across partitions on
    the executors (the reference's kind-branched combiner,
    TermCombiner.java:19-35) and pull the result to the driver.

    One group per ``keys`` value — ``(kind, block)``, or
    ``(kind, lang, block)`` for PolyLDA: 'phi' term blocks merge by an
    elementwise logaddexp, 'alpha'/'elbo' vectors by sum.  Each group
    holds at most one row per input partition, and the driver receives
    about V/TB + 2 rows, i.e. V×K doubles whatever the partition count.
    """
    keys = list(keys)

    def reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        vecs = np.stack(pdf["vec"].to_numpy())
        fold = np.logaddexp.reduce if pdf["kind"].iat[0] == "phi" else np.sum
        return pdf[keys].iloc[:1].assign(vec=[fold(vecs, axis=0)])

    partials = out.filter(F.col("kind") != "doc").select(*keys, "vec")
    return partials.groupBy(*keys).applyInPandas(reduce, partials.schema).toPandas()


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
    per-doc γ/φ fixed-point iterations for one padded Arrow batch.

    This is the engine's compute-backend extension point.  The whole
    E-step hot loop is expressed as dense tensor ops on
    ``(B, n_max, K)`` arrays, so an accelerator backend (CuPy, JAX,
    torch) can drop in by implementing this exact signature — move the
    three inputs to device memory, run the same einsum/logsumexp
    algebra, return host ndarrays.  Everything outside this function
    (Arrow decode, padding, scatter-add combine) stays unchanged, and
    the backend callable is shipped to executors via the normal
    closure-serialization path, one resolve per task.

    Inputs: ``elb`` (B, n_max, K) E[log β] gathered per token slot;
    ``counts_pad`` (B, n_max) token counts, 0 on padding; ``gamma``
    (B, K) the warm-start state (mutated freely); ``alpha`` (K,).
    Returns ``(gamma, lpn, phi)`` with ``lpn`` the log-normalized φ of
    the LAST sweep, both (B, n_max, K).
    """
    lpn = None
    phi = None
    for _ in range(max_gamma_iter):
        dg = digamma(gamma)  # (B, K)
        lp = elb + dg[:, None, :]
        m = lp.max(axis=2, keepdims=True)
        norm = m + np.log(np.exp(lp - m).sum(axis=2, keepdims=True))
        lpn = lp - norm  # (B, n_max, K)
        phi = np.exp(lpn)
        # γ = α + Σ_w c_w φ_w — φ is a normalized probability,
        # so the sum is numerically safe in LINEAR space; the
        # log-space logaddexp fold the reference uses
        # (DocumentMapper.java:237-247) is only needed when the
        # accumulator itself lives in log space.  Linear form
        # saves a (B, n_max+1, K) concatenate + two exp/log
        # passes per sweep (~1.5× sweep cost at sf0.1).
        prev_gamma = gamma
        gamma = alpha[None, :] + np.einsum(
            "bn,bnk->bk", counts_pad, phi
        )
        if gamma_tol > 0.0 and np.max(
            np.abs(gamma - prev_gamma) / prev_gamma
        ) < gamma_tol:
            # Convergence-gated sweeps (SURVEY §7.3): the
            # reference burns a fixed 100 sweeps per doc per
            # iteration (Settings.java:54) — warm-started
            # iterations converge in a handful.
            break
    return gamma, lpn, phi


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
    l_alpha = float(gammaln(alpha.sum()) - gammaln(alpha).sum())
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
        V1 = elog_beta.shape[0]
        phi_acc = np.full((V1, K), -np.inf) if learning else None
        alpha_ss = np.zeros(K)
        ll_partial = n_docs = n_tokens_all = 0.0
        seen_any = False

        for pdf in batches:
            # ---- Batch-vectorized E-step: pad every doc in the Arrow
            # batch to (B, n_max) and run all coordinate-ascent sweeps
            # as whole-batch tensor ops (no per-doc Python loop).
            term_lists = [
                np.asarray(t, dtype=np.int64) for t in pdf["term_ids"]
            ]
            count_lists = [
                np.asarray(c, dtype=np.float64) for c in pdf["term_counts"]
            ]
            keep = [i for i, t in enumerate(term_lists) if t.size > 0]  # P7
            if not keep:
                continue
            seen_any = True
            B = len(keep)
            lens = np.array([term_lists[i].size for i in keep])
            n_max = int(lens.max())
            terms_pad = np.zeros((B, n_max), dtype=np.int64)
            counts_pad = np.zeros((B, n_max))
            for j, i in enumerate(keep):
                terms_pad[j, : lens[j]] = term_lists[i]
                counts_pad[j, : lens[j]] = count_lists[i]
            valid = counts_pad > 0
            with np.errstate(divide="ignore"):
                log_counts = np.where(valid, np.log(counts_pad), -np.inf)

            n_tokens = counts_pad.sum(axis=1)  # (B,)
            gamma = np.tile(alpha, (B, 1)) + n_tokens[:, None] / K
            if "gamma" in pdf.columns and not random_start_gamma:
                for j, i in enumerate(keep):
                    g = pdf["gamma"].iloc[i]
                    if g is not None and len(g) == K:
                        gamma[j] = np.asarray(g, dtype=np.float64)

            elb = elog_beta[terms_pad]  # (B, n_max, K)
            gamma, lpn, phi = sweep(
                elb, counts_pad, gamma, alpha, max_gamma_iter, gamma_tol
            )
            ll_phi = (
                counts_pad[:, :, None] * phi * (elb - lpn)
            ).sum(axis=(1, 2))

            sum_gamma = gamma.sum(axis=1)
            ll_gamma = gammaln(gamma).sum(axis=1) - gammaln(sum_gamma)
            doc_ll = l_alpha + ll_gamma + ll_phi
            ll_partial += float(doc_ll.sum())
            n_docs += B
            n_tokens_all += float(n_tokens.sum())
            alpha_ss += (
                digamma(gamma) - digamma(sum_gamma)[:, None]
            ).sum(axis=0)

            if learning:
                # In-mapper combine (A3): indexed log-space scatter-add
                # of this batch's log-phi into the partition accumulator.
                contrib = (lpn + log_counts[:, :, None])[valid]  # (nnz, K)
                flat_terms = terms_pad[valid]
                np.logaddexp.at(phi_acc, flat_terms, contrib)

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

        if not seen_any:
            return
        tail = _partials_frame(
            [phi_acc] if learning else [],
            alpha_ss,
            [ll_partial, n_docs, n_tokens_all],
        ).assign(term_ids=None, term_counts=None, ll=None)
        yield tail[_ESTEP_SCHEMA.fieldNames()]

    return run


def _mstep_beta(log_phi: np.ndarray, log_eta: np.ndarray | None) -> np.ndarray:
    """M-step finalization on the model-sized matrix
    (TermReducer.java:157-235 semantics): λ_kv = logaddexp(log η_kv,
    logφ_kv), then E[log β] = ψ(e^λ) − ψ(Σ_v e^λ).

    ``log_phi`` is the combined (V+1, K) log-φ-sum matrix
    (``phi_matrix``), −inf for terms no document used.
    """
    lam = np.logaddexp(DEFAULT_LOG_ETA if log_eta is None else log_eta, log_phi)
    lam_exp = np.exp(lam[1:])  # rows 1..V
    norm = lam_exp.sum(axis=0)  # (K,)
    elog = np.full(log_phi.shape, DEFAULT_LOG_ETA)
    elog[1:] = digamma(lam_exp) - digamma(norm)[None, :]
    return elog


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
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    K = num_topics
    if alpha_init is None:
        alpha = np.full(K, 1.0 / K)  # VariationalInference.java:159-160 spirit
    elif np.isscalar(alpha_init):
        alpha = np.full(K, float(alpha_init))
    else:
        alpha = np.asarray(alpha_init, dtype=np.float64).copy()

    elog_beta = init_elog_beta(num_terms, K, seed)
    state = LdaState(alpha=alpha, elog_beta=elog_beta)

    # The corpus (term arrays) is checkpointed ONCE, partitioned by
    # doc_id, and never re-materialized: each iteration joins the small
    # carried gamma table back onto it.  At 100 TB this is the
    # difference between O(corpus) and O(D×K) per-iteration I/O.
    n_parts = spark.sparkContext.defaultParallelism
    has_gamma = "gamma" in corpus_doc.columns
    cols = ["doc_id", "term_ids", "term_counts"] + (["gamma"] if has_gamma else [])
    # Reliable mode: superseded per-iteration gamma checkpoints are
    # deleted at the next loop top, bounding checkpoint-store disk at
    # the live generation (gamma gen 0 lives inside `base` and is
    # never slot-tracked, so the corpus cut always survives).
    ckpt_gc = ReliableCheckpointSweeper(spark)
    base = cut_corpus_lineage(  # the ONE materialization of the input
        corpus_doc.select(*cols).repartition(n_parts, "doc_id"),
        corpus_checkpoint,
    )
    static_corpus = base.select("doc_id", "term_ids", "term_counts")
    gamma_df = base.select("doc_id", "gamma") if has_gamma else None
    num_docs = base.count()
    state.total_tokens = float(
        static_corpus.select(
            F.aggregate(
                F.transform("term_counts", lambda c: c.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
        or 0.0
    )

    import time as _time

    prev_elbo = None
    for it in range(max_iterations):
        iter_t0 = _time.perf_counter()
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
        out = inp.mapInPandas(kernel, schema=_ESTEP_SCHEMA)
        out = out.persist()

        # One stats pull per iteration: the partitions' dense φ term
        # blocks and α/ELBO partials reduce block-wise on the executors
        # (≤ P rows per block for P input partitions), so the shuffle
        # moves about P×V×K doubles in a few large rows and the driver
        # receives V×K doubles at any P.
        stats = combine_partials(out)
        alpha_ss = partial_sum(stats, "alpha", K)
        elbo = float(partial_sum(stats, "elbo", 3)[0])

        next_gamma = ckpt_gc.cut(  # D×K doubles; cuts lineage
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
        gamma_df = next_gamma

        # M-step: beta from phi stats; alpha by Newton-Raphson.
        state.elog_beta = _mstep_beta(
            phi_matrix(stats, num_terms + 1, K), log_eta
        )
        if truncate_beta is not None and truncate_beta < num_terms:
            # The reference designed (then disabled) approximate top-k
            # beta to shrink the per-mapper model
            # (TermReducer.java:34-38, -truncatebeta).  Working version:
            # keep each topic's top-N terms, floor the tail — at scale
            # the broadcast then ships N×K entries + one floor scalar
            # instead of V×K.
            eb = state.elog_beta
            kth = np.partition(eb[1:], -truncate_beta, axis=0)[-truncate_beta]
            state.elog_beta = np.where(
                eb >= kth[None, :], eb, DEFAULT_LOG_ETA
            )
            state.elog_beta[0] = eb[0]
        if symmetric_alpha:
            # Keep alpha symmetric: update the scalar via the vector
            # machinery on the summed statistic, reference-style.
            from mr_lda_spark.functions.alpha import update_alpha_scalar

            a = update_alpha_scalar(K, num_docs, float(state.alpha[0]), float(alpha_ss.sum()))
            state.alpha = np.full(K, a)
        else:
            state.alpha = update_alpha_vector(num_docs, state.alpha, alpha_ss)

        state.elbo = float(elbo)
        state.history.append(float(elbo))
        state.iter_seconds.append(round(_time.perf_counter() - iter_t0, 3))
        if state.total_tokens > 0:
            # Per-token perplexity from the variational bound — the
            # standard held-out-style metric the reference tracks via
            # its LOG_LIKELIHOOD counter.
            state.perplexity_history.append(
                float(np.exp(-elbo / state.total_tokens))
            )
        if snapshot_dir is not None:
            _write_snapshot(spark, snapshot_dir, it + 1, gamma_df, state)
        if (
            prev_elbo is not None
            and abs((elbo - prev_elbo) / prev_elbo) <= converge
        ):
            break
        prev_elbo = elbo

    ckpt_gc.sweep()  # last superseded generation; the live gamma
    # backs the returned relation
    final = (
        static_corpus.join(gamma_df, "doc_id", "left")
        if gamma_df is not None
        else static_corpus.withColumn("gamma", F.lit(None).cast("array<double>"))
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
