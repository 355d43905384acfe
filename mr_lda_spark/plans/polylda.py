"""Polylingual LDA (the reference's `polylda` package, SURVEY.md §1.1,
§2, §7.1 step 9): one vocabulary and one topic–word matrix β per
language, a single shared per-document topic posterior γ.

Kernel semantics follow polylda/DocumentMapper.java with one deliberate
divergence: the α sufficient statistic uses ψ(γ_k) − ψ(Σγ) on the
*actual* γ (the vanilla form) — the reference's polylda mapper applies
digamma to a log-γ buffer (polylda/DocumentMapper.java:299-304), which
SURVEY.md §7.3 flags as a reference bug.

Data model: doc-form rows carry one term-id/count array pair per
language slot (empty slot = language missing — the P6 semantics of
literal-null languages), plus the shared γ.
"""

from __future__ import annotations

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
from mr_lda_spark.plans.lda import (
    _mstep_beta,
    _partials_frame,
    combine_partials,
    init_elog_beta,
    partial_sum,
    phi_matrix,
)

_POLY_ESTEP_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.IntegerType()),
        T.StructField("lang_term_ids", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("lang_term_counts", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("ll", T.DoubleType()),
    ]
)


@dataclass
class PolyLdaState:
    alpha: np.ndarray  # (K,)
    elog_betas: list  # per language: (V_l+1, K)
    elbo: float = float("-inf")
    history: list = field(default_factory=list)
    iter_seconds: list = field(default_factory=list)
    perplexity_history: list = field(default_factory=list)
    total_tokens: float = 0.0


def poly_corpus_from_tall(
    poly_tall: DataFrame, n_languages: int
) -> DataFrame:
    """(doc_id, lang, term_id, term_count) → doc-form with one dense
    array slot per language (empty array = missing language)."""
    per_lang = (
        poly_tall.groupBy("doc_id", "lang")
        .agg(
            F.array_sort(F.collect_list(F.struct("term_id", "term_count"))).alias(
                "pairs"
            )
        )
        .select(
            "doc_id",
            "lang",
            F.col("pairs.term_id").alias("tids"),
            F.col("pairs.term_count").alias("tcts"),
        )
    )
    slots_ids = F.array(
        *[
            F.coalesce(
                F.max(F.when(F.col("lang") == i, F.col("tids"))),
                F.array().cast("array<int>"),
            )
            for i in range(n_languages)
        ]
    )
    slots_cts = F.array(
        *[
            F.coalesce(
                F.max(F.when(F.col("lang") == i, F.col("tcts"))),
                F.array().cast("array<int>"),
            )
            for i in range(n_languages)
        ]
    )
    return (
        per_lang.groupBy("doc_id")
        .agg(slots_ids.alias("lang_term_ids"), slots_cts.alias("lang_term_counts"))
        .withColumn("gamma", F.lit(None).cast("array<double>"))
    )


def _poly_estep_kernel(
    alpha: np.ndarray,
    elog_betas,
    max_gamma_iter: int,
    learning: bool,
    gamma_tol: float = 0.0,
):
    """``elog_betas`` is the per-language list of (V_l+1, K) matrices or
    a ``sparkContext.broadcast`` of that list (one torrent copy per
    executor instead of a per-task closure pickle)."""
    K = len(alpha)
    l_alpha = float(gammaln(alpha.sum()) - gammaln(alpha).sum())
    log_alpha = np.log(alpha)
    elog_betas_ref = elog_betas

    def run(batches):
        elog_betas = (
            elog_betas_ref.value
            if hasattr(elog_betas_ref, "value")
            else elog_betas_ref
        )
        L = len(elog_betas)
        phi_accs = (
            [np.full(eb.shape, -np.inf) for eb in elog_betas] if learning else None
        )
        alpha_ss = np.zeros(K)
        ll_partial = n_docs = n_tokens = 0.0
        seen = False

        for pdf in batches:
            # Batch-vectorized packing, mirroring plans.lda: columnar
            # pulls from the Arrow batch (no per-row itertuples), then
            # per-language padded (B_l, n_max_l) tensors; the shared
            # gamma couples languages inside each sweep.  Gamma
            # accumulates in exp space (sums of non-negative c·phi
            # terms — stable without the log-space chain).
            ids_col = list(pdf["lang_term_ids"])
            cts_col = list(pdf["lang_term_counts"])
            n_rows = len(ids_col)
            term_lists = [
                [np.asarray(ids_col[i][lang], dtype=np.int64) for i in range(n_rows)]
                for lang in range(L)
            ]
            count_lists = [
                [np.asarray(cts_col[i][lang], dtype=np.float64) for i in range(n_rows)]
                for lang in range(L)
            ]
            tok_totals = np.zeros(n_rows)
            for lang in range(L):
                tok_totals += np.array(
                    [count_lists[lang][i].sum() for i in range(n_rows)]
                )
            keep = np.where(tok_totals > 0)[0]  # P7: drop empty docs
            if keep.size == 0:
                continue
            seen = True
            B = int(keep.size)

            # Per-language padded views (idx maps back into the kept batch).
            lang_pack = []
            for lang in range(L):
                sizes = np.array([term_lists[lang][i].size for i in keep])
                idx = np.where(sizes > 0)[0]
                if idx.size == 0:
                    lang_pack.append(None)
                    continue
                lens = sizes[idx]
                n_max = int(lens.max())
                t_pad = np.zeros((idx.size, n_max), dtype=np.int64)
                c_pad = np.zeros((idx.size, n_max))
                for r, j in enumerate(keep[idx]):
                    t_pad[r, : lens[r]] = term_lists[lang][j]
                    c_pad[r, : lens[r]] = count_lists[lang][j]
                valid = c_pad > 0
                with np.errstate(divide="ignore"):
                    log_c = np.where(valid, np.log(c_pad), -np.inf)
                lang_pack.append(
                    (idx, t_pad, c_pad, log_c, valid, elog_betas[lang][t_pad])
                )

            gamma = np.tile(alpha, (B, 1)) + tok_totals[keep, None] / K
            if "gamma" in pdf.columns:
                g_col = pdf["gamma"]
                for j, i in enumerate(keep):
                    g = g_col.iloc[i]
                    if g is not None and len(g) == K:
                        gamma[j] = np.asarray(g, dtype=np.float64)

            lpns = [None] * L
            ll_phi = np.zeros(B)
            for _ in range(max_gamma_iter):
                dg = digamma(gamma)
                new_gamma = np.tile(alpha, (B, 1))
                ll_phi = np.zeros(B)
                for lang in range(L):
                    pack = lang_pack[lang]
                    if pack is None:
                        continue
                    idx, t_pad, c_pad, log_c, valid, elb = pack
                    lp = elb + dg[idx][:, None, :]
                    m = lp.max(axis=2, keepdims=True)
                    norm = m + np.log(np.exp(lp - m).sum(axis=2, keepdims=True))
                    lpn = lp - norm
                    phi = np.exp(lpn)
                    ll_phi[idx] += (c_pad[:, :, None] * phi * (elb - lpn)).sum(
                        axis=(1, 2)
                    )
                    new_gamma[idx] += (c_pad[:, :, None] * phi).sum(axis=1)
                    lpns[lang] = lpn + log_c[:, :, None]
                prev_gamma, gamma = gamma, new_gamma
                if gamma_tol > 0.0 and np.max(
                    np.abs(gamma - prev_gamma) / prev_gamma
                ) < gamma_tol:
                    # Convergence-gated sweeps, the broadcast mono
                    # kernel's batch-max rule (plans/lda.py).
                    break

            sum_gamma = gamma.sum(axis=1)
            ll_gamma = gammaln(gamma).sum(axis=1) - gammaln(sum_gamma)
            doc_ll = l_alpha + ll_gamma + ll_phi
            alpha_ss += (digamma(gamma) - digamma(sum_gamma)[:, None]).sum(axis=0)
            ll_partial += float(doc_ll.sum())
            n_docs += B
            n_tokens += float(tok_totals[keep].sum())

            if learning:
                for lang in range(L):
                    pack = lang_pack[lang]
                    if pack is None or lpns[lang] is None:
                        continue
                    _, t_pad, _, _, valid, _ = pack
                    np.logaddexp.at(
                        phi_accs[lang], t_pad[valid], lpns[lang][valid]
                    )

            # Doc rows carry only gamma + ll; the static per-language
            # term arrays never round-trip back through Arrow.
            yield pd.DataFrame(
                {
                    "kind": "doc",
                    "doc_id": pdf["doc_id"].iloc[keep].astype("int64").values,
                    "lang": -1,
                    "lang_term_ids": None,
                    "lang_term_counts": None,
                    "vec": list(gamma),
                    "ll": doc_ll,
                }
            )

        if not seen:
            return
        tail = _partials_frame(
            phi_accs if learning else [],
            alpha_ss,
            [ll_partial, n_docs, n_tokens],
        ).assign(lang_term_ids=None, lang_term_counts=None, ll=None)
        yield tail[_POLY_ESTEP_SCHEMA.fieldNames()]

    return run


def train_poly(
    spark: SparkSession,
    poly_corpus_doc: DataFrame,
    num_terms_per_lang: list,
    num_topics: int,
    max_iterations: int = 30,
    max_gamma_iter: int = 50,
    alpha_init=None,
    seed: int = 42,
    converge: float = 1e-6,
    gamma_tol: float = 0.0,
    corpus_checkpoint: bool | str = "local",
) -> tuple[DataFrame, PolyLdaState]:
    """EM loop for polylingual LDA; mirrors plans.lda.train but with a
    (lang, block)-keyed combine (the TripleOfInts shuffle key of
    polylda/DocumentMapper.java:31-32 becomes per-language φ term
    blocks).  ``corpus_checkpoint`` selects the lineage-cut tier
    ("local" / "reliable" — ``operators/lifecycle.cut_corpus_lineage``)
    for the corpus and the per-iteration carried γ."""
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    K = num_topics
    alpha = (
        np.full(K, 1.0 / K)
        if alpha_init is None
        else np.asarray(alpha_init, dtype=np.float64).copy()
        if not np.isscalar(alpha_init)
        else np.full(K, float(alpha_init))
    )
    state = PolyLdaState(
        alpha=alpha,
        elog_betas=[
            init_elog_beta(v, K, seed + lang)
            for lang, v in enumerate(num_terms_per_lang)
        ],
    )

    # Same carry strategy as plans.lda: static corpus checkpointed
    # once, only gamma flows between iterations.
    n_parts = spark.sparkContext.defaultParallelism
    has_gamma = "gamma" in poly_corpus_doc.columns
    cols = ["doc_id", "lang_term_ids", "lang_term_counts"] + (
        ["gamma"] if has_gamma else []
    )
    ckpt_gc = ReliableCheckpointSweeper(spark)  # bounds reliable-
    # mode checkpoint disk at the live gamma generation (plans/lda.py)
    base = cut_corpus_lineage(
        poly_corpus_doc.select(*cols).repartition(n_parts, "doc_id"),
        corpus_checkpoint,
    )
    static_corpus = base.select("doc_id", "lang_term_ids", "lang_term_counts")
    gamma_df = base.select("doc_id", "gamma") if has_gamma else None
    num_docs = base.count()
    state.total_tokens = float(
        base.select(
            F.aggregate(
                F.flatten("lang_term_counts"), F.lit(0), lambda a, x: a + x
            ).cast("double").alias("n")
        ).agg(F.sum("n")).collect()[0][0]
        or 0.0
    )

    import time as _time

    prev_elbo = None
    for _ in range(max_iterations):
        iter_t0 = _time.perf_counter()
        ckpt_gc.sweep()
        eb_bc = spark.sparkContext.broadcast(state.elog_betas)
        kernel = _poly_estep_kernel(
            state.alpha, eb_bc, max_gamma_iter, learning=True,
            gamma_tol=gamma_tol,
        )
        if gamma_df is None:
            inp = static_corpus.withColumn(
                "gamma", F.lit(None).cast("array<double>")
            )
        else:
            inp = static_corpus.join(gamma_df, "doc_id", "left")
        out = inp.mapInPandas(kernel, schema=_POLY_ESTEP_SCHEMA).persist()

        # One combine pass (plans/lda.combine_partials) keyed by
        # (kind, lang, block): per-language φ blocks, α and ELBO
        # partials reduce on the executors in a single job.
        stats = combine_partials(out, ("kind", "lang", "doc_id"))
        alpha_ss = partial_sum(stats, "alpha", K)
        elbo = float(partial_sum(stats, "elbo", 3)[0])
        next_gamma = ckpt_gc.cut(
            out.filter(F.col("kind") == "doc").select(
                "doc_id", F.col("vec").alias("gamma")
            ),
            corpus_checkpoint,
            slot="gamma",
        )
        out.unpersist()
        eb_bc.unpersist()
        gamma_df = next_gamma

        state.elog_betas = [
            _mstep_beta(
                phi_matrix(stats[stats["lang"] == lang], v + 1, K), None
            )
            for lang, v in enumerate(num_terms_per_lang)
        ]
        state.alpha = update_alpha_vector(num_docs, state.alpha, alpha_ss)
        state.elbo = float(elbo)
        state.history.append(float(elbo))
        state.iter_seconds.append(round(_time.perf_counter() - iter_t0, 3))
        if state.total_tokens > 0:
            state.perplexity_history.append(
                float(np.exp(-elbo / state.total_tokens))
            )
        if prev_elbo is not None and abs((elbo - prev_elbo) / prev_elbo) <= converge:
            break
        prev_elbo = elbo

    ckpt_gc.sweep()
    final = (
        static_corpus.join(gamma_df, "doc_id", "left")
        if gamma_df is not None
        else static_corpus.withColumn("gamma", F.lit(None).cast("array<double>"))
    )
    return final, state


def infer_poly(
    spark: SparkSession,
    poly_corpus_doc: DataFrame,
    state: PolyLdaState,
    max_gamma_iter: int = 50,
    gamma_tol: float = 0.0,
) -> DataFrame:
    """Polylingual test/held-out mode (the reference polylda's own
    ``-test`` flag, polylda/VariationalInference.java:90 — γ-only
    pass, learning=false): score documents under trained per-language
    β and α.  Returns (doc_id, gamma, doc_ll)."""
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    eb_bc = spark.sparkContext.broadcast(state.elog_betas)
    kernel = _poly_estep_kernel(
        state.alpha, eb_bc, max_gamma_iter, learning=False,
        gamma_tol=gamma_tol,
    )
    inp = poly_corpus_doc
    if "gamma" not in inp.columns:
        inp = inp.withColumn("gamma", F.lit(None).cast("array<double>"))
    out = inp.select(
        "doc_id", "lang_term_ids", "lang_term_counts", "gamma"
    ).mapInPandas(kernel, schema=_POLY_ESTEP_SCHEMA)
    return out.filter(F.col("kind") == "doc").select(
        "doc_id", F.col("vec").alias("gamma"), F.col("ll").alias("doc_ll")
    )
