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

from mr_lda_spark.functions.alpha import update_alpha_vector
from mr_lda_spark.operators.lifecycle import (
    ReliableCheckpointSweeper,
    cut_corpus_lineage,
)
from mr_lda_spark.plans.lda import (
    _ESTEP_SCHEMA,
    _estep_kernel,
    _mstep_beta,
    combine_partials,
    init_elog_beta,
    partial_sum,
    phi_matrix,
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
    pad_efficiency: list = field(default_factory=list)  # as LdaState's


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
    elog_beta,
    lang_rows: list,
    max_gamma_iter: int,
    learning: bool,
    gamma_tol: float = 0.0,
):
    """The mono E-step kernel (``lda._estep_kernel``) over a stacked
    vocabulary.  ``elog_beta`` is the languages' (V_l+1, K) matrices
    stacked in language order (``lang_rows`` rows each), or a
    ``sparkContext.broadcast`` of it (one torrent copy per executor
    instead of a per-task closure pickle).

    Language l's term t is stacked row offset_l + t, so a document's
    languages form one token list: the shared γ couples the languages
    because each sweep sums c·φ over every token of the document,
    whatever its language; documents are length-grouped by their total
    length; and the 'phi' blocks cover the stacked (ΣV_l+L, K)
    log-φ matrix.  Output rows follow ``lda._ESTEP_SCHEMA``."""
    offsets = np.cumsum([0, *lang_rows[:-1]])
    mono = _estep_kernel(
        alpha, elog_beta, max_gamma_iter, learning, False, gamma_tol
    )

    def stacked(pdf):
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "term_ids": [
                    np.concatenate(
                        [o + np.asarray(t, dtype=np.int64) for o, t in zip(offsets, ids)]
                    )
                    for ids in pdf["lang_term_ids"]
                ],
                "term_counts": [
                    np.concatenate([np.asarray(c, dtype=np.float64) for c in cts])
                    for cts in pdf["lang_term_counts"]
                ],
                "gamma": pdf["gamma"] if "gamma" in pdf.columns else None,
            }
        )

    return lambda batches: mono(map(stacked, batches))


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
    """EM loop for polylingual LDA; mirrors plans.lda.train over the
    languages' stacked vocabulary (the TripleOfInts shuffle key of
    polylda/DocumentMapper.java:31-32 becomes a stacked-row φ term
    block, split back per language for the M-step).  ``corpus_checkpoint`` selects the lineage-cut tier
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
    lang_rows = [len(eb) for eb in state.elog_betas]  # stacked-β rows per language

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
        eb_bc = spark.sparkContext.broadcast(np.concatenate(state.elog_betas))
        kernel = _poly_estep_kernel(
            state.alpha, eb_bc, lang_rows, max_gamma_iter, learning=True,
            gamma_tol=gamma_tol,
        )
        if gamma_df is None:
            inp = static_corpus.withColumn(
                "gamma", F.lit(None).cast("array<double>")
            )
        else:
            inp = static_corpus.join(gamma_df, "doc_id", "left")
        out = inp.mapInPandas(kernel, schema=_ESTEP_SCHEMA).persist()

        # One combine pass (plans/lda.combine_partials): the stacked
        # φ blocks, α and ELBO partials reduce on the executors in a
        # single job.
        stats = combine_partials(out)
        alpha_ss = partial_sum(stats, "alpha", K)
        totals = partial_sum(stats, "elbo", 5)
        elbo = float(totals[0])
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

        log_phi = phi_matrix(stats, sum(lang_rows), K)
        state.elog_betas = [
            _mstep_beta(lp, None)
            for lp in np.split(log_phi, np.cumsum(lang_rows)[:-1])
        ]
        state.alpha = update_alpha_vector(num_docs, state.alpha, alpha_ss)
        state.elbo = float(elbo)
        state.history.append(float(elbo))
        state.iter_seconds.append(round(_time.perf_counter() - iter_t0, 3))
        if totals[4] > 0:
            state.pad_efficiency.append(float(totals[3] / totals[4]))
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
    eb_bc = spark.sparkContext.broadcast(np.concatenate(state.elog_betas))
    kernel = _poly_estep_kernel(
        state.alpha, eb_bc, [len(eb) for eb in state.elog_betas],
        max_gamma_iter, learning=False, gamma_tol=gamma_tol,
    )
    inp = poly_corpus_doc
    if "gamma" not in inp.columns:
        inp = inp.withColumn("gamma", F.lit(None).cast("array<double>"))
    out = inp.select(
        "doc_id", "lang_term_ids", "lang_term_counts", "gamma"
    ).mapInPandas(kernel, schema=_ESTEP_SCHEMA)
    return out.filter(F.col("kind") == "doc").select(
        "doc_id", F.col("vec").alias("gamma"), F.col("ll").alias("doc_ll")
    )
