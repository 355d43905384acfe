"""Shuffle-join polylingual variational EM — the scale path for
per-language models too large to broadcast (VERDICT r5 item #1; the
same β-as-DataFrame move as ``plans/lda_join`` with a language
dimension).

The reference's polylda shuffles φ statistics under a composite
``TripleOfInts`` (lang, topic, term) key (polylda/DocumentMapper.java:
31-32, partitioner polylda/TermPartitioner.java:10-12) but still ships
every language's FULL β to every mapper's heap
(polylda/DocumentMapper.java:475-536).  Here β is one tall DataFrame
keyed by a packed ``(lang << 32) | term_id`` int64 — the Spark shape of
the reference's composite key — that never touches the driver.

This module holds no EM loop of its own: the join loop of
``plans.lda_join`` already runs on packed keys (mono LDA is the case
where every key is in language 0).  Tokens from all languages land in
one document row, each carrying its own language's β slice, so the
E-step is exactly the mono join kernel; the language matters again
only at the M-step's per-(lang, topic) normalizer.

Cost model: identical to mono join mode — two corpus-sized shuffles per
iteration (β join + φ aggregation) regardless of how many languages, vs
broadcast mode's Σ_l V_l × K executor-heap copies.  Use broadcast mode
(``plans.polylda``) below that threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_lda_spark.plans import lda_join
from mr_lda_spark.plans.lda_join import pack_key
from mr_lda_spark.plans.polylda import PolyLdaState, poly_state


def train_poly_join(
    spark: SparkSession,
    poly_tall: DataFrame,
    num_terms_per_lang,
    num_topics: int,
    max_iterations: int = 10,
    max_gamma_iter: int = 50,
    alpha_init=None,
    seed: int = 42,
    converge: float = 1e-6,
    shuffle_partitions: int | None = None,
    gamma_tol: float = 0.0,
    corpus_checkpoint: bool | str = "local",
) -> tuple[DataFrame, PolyLdaState]:
    """EM loop with distributed per-language β.  ``poly_tall`` is the
    encoded polylingual corpus (doc_id, lang, term_id, term_count).
    Returns (gamma DataFrame, PolyLdaState with the driver-collected
    per-language β — API parity with broadcast mode; the loop itself
    never pulls β).

    Documents are the doc_ids of ``poly_tall`` — a tall relation cannot
    carry zero-token documents, which both modes drop from the E-step
    (P7)."""
    packed = poly_tall.select(
        "doc_id", pack_key(F.col("lang"), F.col("term_id")).alias("key"), "term_count"
    )
    gamma_df, state = lda_join._train_packed(
        spark, packed, list(num_terms_per_lang), num_topics,
        max_iterations=max_iterations,
        max_gamma_iter=max_gamma_iter, alpha_init=alpha_init, seed=seed,
        converge=converge, shuffle_partitions=shuffle_partitions,
        gamma_tol=gamma_tol, corpus_checkpoint=corpus_checkpoint,
    )
    return gamma_df, poly_state(state, num_terms_per_lang)


def poly_beta_relation(spark: SparkSession, state) -> DataFrame:
    """Per-language E[log β] matrices (a broadcast-trained
    ``PolyLdaState``) → the join path's packed row form
    (key = (lang << 32) | term_id, beta ARRAY<DOUBLE>[K]) — what
    ``infer_poly_join`` consumes."""
    return lda_join.packed_beta_dataframe(spark, state.elog_betas)


def infer_poly_join(
    spark: SparkSession,
    poly_tall: DataFrame,
    beta_df: DataFrame,
    alpha,
    max_gamma_iter: int = 50,
    gamma_tol: float = 0.0,
) -> DataFrame:
    """Held-out polylingual inference with DISTRIBUTED per-language β
    (the -test γ-only pass past the broadcast cliff): pack the corpus
    keys, then the mono join-mode scorer runs unchanged — language
    only ever mattered for β lookup, and each packed row carries its
    own slice.  Returns (doc_id, gamma, doc_ll)."""
    packed = poly_tall.select(
        "doc_id",
        pack_key(F.col("lang"), F.col("term_id")).alias("term_id"),
        "term_count",
    )
    return lda_join.infer_join(
        spark,
        packed,
        beta_df.withColumnRenamed("key", "term_id"),
        alpha,
        max_gamma_iter=max_gamma_iter,
        gamma_tol=gamma_tol,
    )
