"""Polylingual LDA (the reference's `polylda` package, SURVEY.md §1.1,
§2, §7.1 step 9): one vocabulary and one topic–word matrix β per
language, a single shared per-document topic posterior γ.

Polylingual LDA with one language is LDA, so this module holds no EM
loop of its own: ``train_poly`` stacks each document's languages into
one token list over a stacked vocabulary (language l's term t is row
offset_l + t, offset_l = Σ_{j<l}(V_j + 1)) and trains through the
broadcast loop of ``plans.lda``, which initialises and normalises β per
language.  The shared γ couples the languages because each sweep sums
c·φ over every token of a document, whatever its language.

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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_lda_spark.plans import lda


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


def poly_state(state: lda.LdaState, num_terms_per_lang) -> PolyLdaState:
    """A stacked-vocabulary ``LdaState`` (either EM loop's result)
    with its β split back per language."""
    fields = dict(vars(state))
    stacked = fields.pop("elog_beta")
    bounds = lda._lang_bounds(num_terms_per_lang)
    return PolyLdaState(elog_betas=np.split(stacked, bounds[1:-1]), **fields)


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


def stack_languages(poly_corpus_doc: DataFrame, num_terms_per_lang) -> DataFrame:
    """Add the stacked-vocabulary (term_ids, term_counts) columns: each
    document's language slots concatenated in language order, language
    l's term t shifted to stacked row ``lda._lang_bounds[l] + t``.  Pure
    higher-order column functions, no Python."""
    offsets = F.array(
        *[F.lit(int(o)) for o in lda._lang_bounds(num_terms_per_lang)[:-1]]
    )
    return poly_corpus_doc.withColumn(
        "term_ids",
        F.flatten(
            F.transform(
                "lang_term_ids",
                lambda ids, lang: F.transform(ids, lambda t: t + offsets[lang]),
            )
        ),
    ).withColumn("term_counts", F.flatten("lang_term_counts"))


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
    """EM for polylingual LDA: ``plans.lda``'s broadcast loop over the
    languages' stacked vocabulary (the TripleOfInts shuffle key of
    polylda/DocumentMapper.java:31-32 becomes a stacked-row φ term
    block, split back per language for the M-step).  The stacking runs
    once, ahead of the loop's single corpus checkpoint; the returned
    (doc_id, lang_term_ids, lang_term_counts, gamma) relation reads
    that checkpoint.  ``corpus_checkpoint`` selects the lineage-cut
    tier ("local" / "reliable" — ``operators/lifecycle.cut_corpus_lineage``)
    for the corpus and the per-iteration carried γ."""
    cols = ["doc_id", "lang_term_ids", "lang_term_counts"]
    if "gamma" in poly_corpus_doc.columns:
        cols.append("gamma")
    final, state = lda._train_stacked(
        spark,
        stack_languages(poly_corpus_doc.select(*cols), num_terms_per_lang),
        num_terms_per_lang, num_topics, max_iterations=max_iterations,
        max_gamma_iter=max_gamma_iter, alpha_init=alpha_init, seed=seed,
        converge=converge, gamma_tol=gamma_tol, corpus_checkpoint=corpus_checkpoint,
    )
    return (
        final.select("doc_id", "lang_term_ids", "lang_term_counts", "gamma"),
        poly_state(state, num_terms_per_lang),
    )


def infer_poly(
    spark: SparkSession,
    poly_corpus_doc: DataFrame,
    state: PolyLdaState,
    max_gamma_iter: int = 50,
) -> DataFrame:
    """Polylingual test/held-out mode (the reference polylda's own
    ``-test`` flag, polylda/VariationalInference.java:90 — γ-only
    pass, learning=false): ``lda.infer`` over the stacked vocabulary
    under the trained per-language β and α.  Returns (doc_id, gamma,
    doc_ll)."""
    stacked = lda.LdaState(state.alpha, np.concatenate(state.elog_betas))
    num_terms = [len(eb) - 1 for eb in state.elog_betas]
    return lda.infer(
        spark, stack_languages(poly_corpus_doc, num_terms), stacked, max_gamma_iter
    )
