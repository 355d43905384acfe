"""Shuffle-join variational EM — the scale path for models too large to
broadcast (SURVEY.md §7.3 "β broadcast at scale").

The reference ships ALL of β to every mapper's heap
(DocumentMapper.java:475-536) and hits an OOM wall the paper
acknowledges (the disabled truncation code, TermReducer.java:34-38).
Spark can do the join MapReduce couldn't: here β is a *DataFrame*
(key, beta ARRAY<DOUBLE>[K]) that never touches the driver.  The key is
the packed int64 ``(lang << 32) | term_id`` (``pack_key``), so one loop
serves mono LDA (every key in language 0) and polylingual LDA
(``plans/polylda_join``) alike:

per iteration:
  1. corpus_tall ⋈ beta on key  (shuffle join; corpus side is
     pre-partitioned by key once and reused every iteration)
  2. regroup by doc_id → doc rows carrying their terms' β slices
  3. mapInPandas E-step (same sweeps as plans.lda, β read from rows)
     → γ/doc-ll rows + PARTITION-COMBINED per-key φ partials
     (size-bounded in-kernel logsumexp fold — tokens×K never hits a
     shuffle) + one α-statistic row and one ELBO-counter row per
     partition, as in broadcast mode
  4. M-step fully relational: logsumexp φ by (key, topic) → η smooth →
     per-(lang, topic) normalizer → E[log β'] via an Arrow-batched
     digamma kernel → next β DataFrame (localCheckpoint, still
     distributed)
  5. one collect of the ≤ 2 partials per partition: the α statistic
     and [ELBO, docs, tokens, term cells, padded cells] reach the
     driver, which runs the α update shared with broadcast mode.

Cost model vs broadcast mode: two extra corpus-sized shuffles per
iteration (the β join and the φ aggregation) — the honest price when
V×K ∉ executor memory.  Use broadcast mode (plans.lda) below that
threshold.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_lda_spark.functions.special import digamma
from mr_lda_spark.operators.lifecycle import (
    ReliableCheckpointSweeper,
    cut_corpus_lineage,
)
from mr_lda_spark.plans.lda import (
    DEFAULT_LOG_ETA,
    LdaState,
    _end_iteration,
    _estep_batch,
    _initial_alpha,
    _pad,
    _partials_frame,
    init_elog_beta,
    numpy_sweep_backend,
)

_JOIN_ESTEP_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("id", T.LongType()),  # doc_id | key | -1 (partials)
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("ll", T.DoubleType()),
    ]
)

_LANG_SHIFT = 32
_TERM_MASK = (1 << _LANG_SHIFT) - 1


def pack_key(lang_col, term_col):
    """(lang, term_id) → int64 ``(lang << 32) | term_id`` — the Spark
    column form of the reference's TripleOfInts composite shuffle key
    (term ids are dense 1-based ints, always < 2^31)."""
    return F.shiftleft(lang_col.cast("long"), _LANG_SHIFT) + term_col.cast(
        "long"
    )


def packed_beta_dataframe(spark: SparkSession, elog_betas) -> DataFrame:
    """Per-language (V_l+1, K) E[log β] matrices → the join path's
    packed row form (key, beta ARRAY<DOUBLE>[K]).  Model-sized build;
    plain-float rows so it works with or without Arrow (the driver's
    vanilla session runs without it)."""
    rows = [
        ((lang << _LANG_SHIFT) | v, [float(x) for x in eb[v]])
        for lang, eb in enumerate(elog_betas)
        for v in range(1, len(eb))
    ]
    return spark.createDataFrame(rows, schema="key long, beta array<double>")


def beta_init_dataframe(
    spark: SparkSession, num_terms_per_lang, num_topics: int, seed: int
) -> DataFrame:
    """Seeded initial E[log β] of every language as one packed tall
    DataFrame.  Built driver-side, language l from ``seed + l``, so the
    join loop starts from exactly the broadcast loop's β; a from-data
    init (e.g. seeded hash of (term, topic)) drops even this one-time
    driver materialization."""
    return packed_beta_dataframe(
        spark,
        [
            init_elog_beta(v, num_topics, seed + lang)
            for lang, v in enumerate(num_terms_per_lang)
        ],
    )


def _segment_lse(flat_terms: np.ndarray, flat_vecs: np.ndarray):
    """Vectorized per-term logsumexp of (n_rows, K) log values grouped
    by ``flat_terms``: sort, reduceat max-shift, reduceat sum."""
    order = np.argsort(flat_terms, kind="stable")
    t = flat_terms[order]
    v = flat_vecs[order]
    bounds = np.flatnonzero(np.r_[True, t[1:] != t[:-1]])
    uniq = t[bounds]
    mx = np.maximum.reduceat(v, bounds, axis=0)
    seg_sizes = np.diff(np.r_[bounds, len(t)])
    seg_id = np.repeat(np.arange(len(bounds)), seg_sizes)
    sm = np.add.reduceat(np.exp(v - mx[seg_id]), bounds, axis=0)
    return uniq, mx + np.log(sm)


def _join_estep_kernel(
    alpha: np.ndarray,
    max_gamma_iter: int,
    phi_flush: int = 1 << 18,
    learning: bool = True,
    gamma_tol: float = 0.0,
):
    """E-step over doc rows that carry their own β slices
    (terms, counts, betas aligned arrays).  ``learning=False`` is the
    reference's -test mode (VariationalInferenceOptions.java:166-178):
    γ-only sweeps, no φ statistics, no partials — only doc rows flow.
    Each Arrow batch runs through the broadcast path's per-batch E-step
    (``lda._estep_batch``: length-grouped sub-batches, the
    ``numpy_sweep_backend`` sweep) with β gathered from the rows.

    φ sufficient statistics are combined PARTITION-LOCALLY (the same
    in-mapper-combine move as the broadcast path): instead of one row
    per (doc, term) — tokens × K doubles into the M-step shuffle,
    twice, because the two-pass logsumexp re-shuffles its input — the
    kernel folds each sub-batch's per-term logsumexp into a dict and
    emits one partial row per distinct term per partition.  Memory
    stays bounded: the dict flushes to output whenever it exceeds
    ``phi_flush`` terms (so a vocabulary larger than executor memory
    degrades to more partials, never to OOM), and logsumexp of partials
    is associative so the relational combine downstream is unchanged.
    The α statistic and the ELBO counters leave as one 'alpha' and one
    'elbo' row per partition (``lda._partials_frame``)."""

    def run(batches):
        phi_acc: dict[int, np.ndarray] = {}
        alpha_ss = np.zeros(len(alpha))
        totals = np.zeros(5)

        def phi_frame():
            out = pd.DataFrame(
                {
                    "kind": "phi",
                    "id": np.fromiter(phi_acc, dtype=np.int64, count=len(phi_acc)),
                    "vec": list(phi_acc.values()),
                    "ll": 0.0,
                }
            )
            phi_acc.clear()
            return out

        def fold_phi(terms, log_phi):
            # Per-term logsumexp within the sub-batch, folded into the
            # partition-local accumulator (flushed size-bounded).
            uniq, lse = _segment_lse(terms, log_phi)
            for t, vec in zip(uniq, lse):
                prev = phi_acc.get(int(t))
                phi_acc[int(t)] = vec if prev is None else np.logaddexp(prev, vec)

        for pdf in batches:
            betas = [np.asarray(list(b), dtype=np.float64) for b in pdf["betas"]]
            keep, gamma, doc_ll, alpha_terms, batch_totals = _estep_batch(
                [np.asarray(t, dtype=np.int64) for t in pdf["term_ids"]],
                [np.asarray(c, dtype=np.float64) for c in pdf["term_counts"]],
                pdf["gamma"] if "gamma" in pdf.columns else None,
                alpha, max_gamma_iter, gamma_tol, numpy_sweep_backend,
                lambda rows, terms_pad: _pad(
                    [betas[i] for i in rows], terms_pad.shape[1], DEFAULT_LOG_ETA
                ),
                fold_phi if learning else None,
            )
            if not keep.size:
                continue
            alpha_ss += alpha_terms.sum(axis=0)
            totals += batch_totals
            yield pd.DataFrame(
                {
                    "kind": "doc",
                    "id": pdf["doc_id"].iloc[keep].astype("int64").values,
                    "vec": list(gamma),
                    "ll": doc_ll,
                }
            )
            if len(phi_acc) > phi_flush:
                yield phi_frame()
        if phi_acc:
            yield phi_frame()
        if learning and totals[1]:
            yield _partials_frame(None, alpha_ss, totals).rename(
                columns={"doc_id": "id"}
            ).assign(ll=0.0)

    return run


def train_beta_join(
    spark: SparkSession,
    corpus_tall: DataFrame,
    num_terms: int,
    num_topics: int,
    max_iterations: int = 10,
    max_gamma_iter: int = 50,
    alpha_init=None,
    seed: int = 42,
    converge: float = 1e-6,
    shuffle_partitions: int | None = None,
    eta_seeds: DataFrame | None = None,
    gamma_tol: float = 0.0,
    gamma_init: DataFrame | None = None,
    symmetric_alpha: bool = False,
    corpus_checkpoint: bool | str = "local",
) -> tuple[DataFrame, LdaState]:
    """EM loop with distributed β.  ``corpus_tall`` is the encoded
    corpus (doc_id, term_id, term_count).  Returns (gamma DataFrame,
    state with driver-collected β — collected ONLY for API parity; the
    loop itself never pulls β).

    ``gamma_init`` is a (doc_id, gamma) snapshot for warm resume (the
    reference's -modelindex): iteration 1's E-step starts from the
    carried γ exactly as broadcast mode does with a gamma column on
    the corpus.

    ``eta_seeds`` is the informed-prior seed relation (topic, term_id)
    — ``informed_prior.parse_informed_prior``'s output.  With it, the
    M-step smooths seed entries at log 1000 and everything else at
    log 0.001 (InformedPrior.java:43-44) over a DENSE distributed
    V×K η relation: unlike the uninformed case, non-corpus terms'
    η mass (0.001 each) is NOT negligible in the per-topic
    normalizer, so the λ relation must cover every term — which is
    exactly what the broadcast M-step's dense matrix does, kept as a
    DataFrame here."""
    eta_rel = None
    if eta_seeds is not None:
        from mr_lda_spark.operators.informed_prior import (
            LOG_ETA_OTHER,
            LOG_ETA_SEED,
        )

        # Dense distributed η: every (key, topic) gets its log-prior
        # (seed overlay on the log 0.001 floor).  V×K rows, built with
        # spark.range — never on the driver.
        eta_rel = cut_corpus_lineage(
            spark.range(1, num_terms + 1)
            .select(F.col("id").alias("key"))
            .crossJoin(
                spark.range(num_topics).select(F.col("id").cast("int").alias("topic"))
            )
            .join(
                F.broadcast(
                    eta_seeds.select(
                        "topic", pack_key(F.lit(0), F.col("term_id")).alias("key")
                    )
                    .distinct()
                    .withColumn("_seed", F.lit(True))
                ),
                ["topic", "key"],
                "left",
            )
            .select(
                "key",
                "topic",
                F.when(F.col("_seed"), F.lit(float(LOG_ETA_SEED)))
                .otherwise(F.lit(float(LOG_ETA_OTHER)))
                .alias("log_eta"),
            ),
            corpus_checkpoint,
        )
    return _train_packed(
        spark,
        corpus_tall.select(
            "doc_id", pack_key(F.lit(0), F.col("term_id")).alias("key"), "term_count"
        ),
        [num_terms], num_topics, max_iterations=max_iterations,
        max_gamma_iter=max_gamma_iter, alpha_init=alpha_init, seed=seed,
        converge=converge, shuffle_partitions=shuffle_partitions,
        gamma_tol=gamma_tol, corpus_checkpoint=corpus_checkpoint,
        eta_rel=eta_rel, gamma_init=gamma_init, symmetric_alpha=symmetric_alpha,
    )


def _train_packed(
    spark: SparkSession,
    tall: DataFrame,
    num_terms_per_lang: list,
    num_topics: int,
    *,
    max_iterations: int,
    max_gamma_iter: int,
    alpha_init,
    seed: int,
    converge: float,
    shuffle_partitions: int | None,
    gamma_tol: float,
    corpus_checkpoint: bool | str,
    eta_rel: DataFrame | None = None,
    gamma_init: DataFrame | None = None,
    symmetric_alpha: bool = False,
) -> tuple[DataFrame, LdaState]:
    """The join-mode EM loop for L ≥ 1 languages.  ``tall`` is
    (doc_id, key, term_count) with ``pack_key`` keys; ``eta_rel`` an
    optional dense (key, topic, log_eta) prior.  β is a distribution
    per language per topic, so the normaliser groups by
    (key >> 32, topic).  Returns (gamma DataFrame, state whose β is
    the languages' (V_l+1, K) matrices stacked, as the broadcast
    loop's)."""
    from mr_lda_spark.functions.logmath import logsumexp_agg
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    K = num_topics
    state = LdaState(alpha=_initial_alpha(alpha_init, K), elog_beta=np.zeros((0, K)))
    n_parts = shuffle_partitions or spark.sparkContext.defaultParallelism

    # Pre-partition the corpus by key ONCE; every iteration's β join
    # then reuses this partitioning (no corpus re-shuffle).
    # corpus_checkpoint selects the lineage-cut tier for the WHOLE
    # training lifecycle (corpus + per-iteration β/γ — a lost block of
    # any of them kills the run): operators/lifecycle.cut_corpus_lineage.
    # In reliable mode the sweeper bounds checkpoint-store disk at the
    # LIVE generation: superseded per-iteration β/γ directories are
    # deleted at the next loop top (never at supersede time — the
    # persisted E-step `out` may still re-read them on eviction).
    ckpt_gc = ReliableCheckpointSweeper(spark)
    tall = cut_corpus_lineage(tall.repartition(n_parts, "key"), corpus_checkpoint)
    beta_df = ckpt_gc.cut(
        beta_init_dataframe(spark, num_terms_per_lang, K, seed).repartition(
            n_parts, "key"
        ),
        corpus_checkpoint,
        slot="beta",
    )
    gamma_df = (
        None
        if gamma_init is None
        else ckpt_gc.cut(
            gamma_init.select("doc_id", "gamma"), corpus_checkpoint, slot="gamma"
        )
    )
    digamma_udf = F.pandas_udf(
        lambda s: pd.Series(digamma(s.to_numpy())), "double"
    )

    for _ in range(max_iterations):
        iter_t0 = time.perf_counter()
        ckpt_gc.sweep()  # generation i-1 is unreachable now
        # The kernel's column contract is term_ids / term_counts /
        # betas; packed keys ride through it as opaque int64 "terms" —
        # the kernel only groups φ partials by them, which is exactly
        # the composite-key group the reference's TripleOfInts
        # partitioner implements.
        docs = tall.join(beta_df, "key").groupBy("doc_id").agg(
            F.collect_list("key").alias("term_ids"),
            F.collect_list("term_count").alias("term_counts"),
            F.collect_list("beta").alias("betas"),
        )
        if gamma_df is not None:
            docs = docs.join(gamma_df, "doc_id", "left")
        kernel = _join_estep_kernel(state.alpha, max_gamma_iter, gamma_tol=gamma_tol)
        out = docs.mapInPandas(kernel, schema=_JOIN_ESTEP_SCHEMA).persist()

        # --- M-step: fully relational β' ---
        phi = out.filter(F.col("kind") == "phi").select(
            F.col("id").alias("key"),
            F.posexplode("vec").alias("topic", "log_phi"),
        )
        lam = logsumexp_agg(phi, ["key", "topic"], "log_phi", "lse")
        if eta_rel is None:
            # η smoothing (uninformed): at η = 1e-12 the unobserved-term
            # mass is negligible in the normalizer, so the sparse
            # (observed-terms-only) relation suffices.
            lam = lam.withColumn("log_eta", F.lit(DEFAULT_LOG_ETA))
        else:
            # Informed prior: the dense η relation keeps every term in
            # the normalizer (unobserved terms carry exp(log 0.001)).
            lam = eta_rel.join(lam, ["key", "topic"], "left").withColumn(
                "lse", F.coalesce("lse", F.lit(float("-inf")))
            )
        # λ = logaddexp(log η, Σφ)
        hi, lo = F.greatest("lse", "log_eta"), F.least("lse", "log_eta")
        lam = lam.select(
            "key",
            "topic",
            F.shiftrightunsigned("key", _LANG_SHIFT).cast("int").alias("lang"),
            (hi + F.log1p(F.exp(lo - hi))).alias("log_lambda"),
        )
        # β is a distribution PER LANGUAGE per topic — the normalizer
        # groups by (lang, topic), L×K scalars, always broadcastable.
        norms = logsumexp_agg(lam, ["lang", "topic"], "log_lambda", "log_norm")
        beta_next = (
            lam.join(F.broadcast(norms), ["lang", "topic"])
            .select(
                "key",
                "topic",
                (
                    digamma_udf(F.exp("log_lambda"))
                    - digamma_udf(F.exp("log_norm"))
                ).alias("elog"),
            )
            .groupBy("key")
            .agg(F.array_sort(F.collect_list(F.struct("topic", "elog"))).alias("p"))
            .select("key", F.col("p.elog").alias("beta"))
        )
        beta_next = ckpt_gc.cut(
            beta_next.repartition(n_parts, "key"), corpus_checkpoint, slot="beta"
        )

        # --- α statistic + ELBO counters: ≤ 2 rows per partition ---
        sums = {"alpha": np.zeros(K), "elbo": np.zeros(5)}
        partials = out.filter(F.col("kind").isin("alpha", "elbo"))
        for r in partials.select("kind", "vec").collect():
            sums[r["kind"]] = sums[r["kind"]] + np.asarray(r["vec"])
        gamma_df = ckpt_gc.cut(
            out.filter(F.col("kind") == "doc").select(
                F.col("id").alias("doc_id"), F.col("vec").alias("gamma")
            ),
            corpus_checkpoint,
            slot="gamma",
        )
        out.unpersist()
        beta_df = beta_next
        if _end_iteration(
            state, sums["alpha"], sums["elbo"], symmetric_alpha, iter_t0, converge
        ):
            break

    ckpt_gc.sweep()  # last superseded generation; the live one backs
    # the returned gamma_df / beta_df
    # API parity: expose β as matrices (model-sized pull; the loop
    # above never needed it on the driver).
    mats = [np.full((v + 1, K), DEFAULT_LOG_ETA) for v in num_terms_per_lang]
    for r in beta_df.collect():
        key = int(r["key"])
        mats[key >> _LANG_SHIFT][key & _TERM_MASK] = np.asarray(r["beta"])
    state.elog_beta = np.concatenate(mats)
    return gamma_df, state


def beta_relation(beta_tall: DataFrame) -> DataFrame:
    """Fold the tall BETA table (term_id, topic, log_beta — the
    engine's stored model layout) into the join path's row form
    (term_id, beta ARRAY<DOUBLE>[K]).  One shuffle on term_id, K rows
    per key — the relational inverse of ``lda.beta_dataframe``; never
    touches the driver."""
    return (
        beta_tall.groupBy("term_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("topic", "log_beta"))
            ).alias("p")
        )
        .select("term_id", F.col("p.log_beta").alias("beta"))
    )


def infer_join(
    spark: SparkSession,
    corpus_tall: DataFrame,
    beta_df: DataFrame,
    alpha: np.ndarray,
    max_gamma_iter: int = 50,
    gamma_tol: float = 0.0,
) -> DataFrame:
    """Held-out/test inference with DISTRIBUTED β (the reference's
    -test γ-only pass, VariationalInferenceOptions.java:166-178, with
    the broadcast requirement removed): ``corpus_tall`` (doc_id,
    term_id, term_count) joins ``beta_df`` (term_id, beta ARRAY[K]) on
    term_id, docs regroup carrying their terms' β slices, and the
    γ-only kernel scores each doc.  Returns (doc_id, gamma, doc_ll).

    β stays a DataFrame end-to-end — below the broadcast threshold AQE
    turns the join into a broadcast join on its own; above it, the
    shuffle join is the plan that survives.  Terms absent from β score
    at the η floor (left join + coalesce), matching broadcast-mode
    ``lda.infer``'s DEFAULT_LOG_ETA-filled matrix exactly."""
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    alpha = np.asarray(alpha, dtype=np.float64)
    K = len(alpha)
    floor = F.array_repeat(F.lit(float(DEFAULT_LOG_ETA)), K)
    joined = corpus_tall.join(beta_df, "term_id", "left").withColumn(
        "beta", F.coalesce(F.col("beta"), floor)
    )
    docs = joined.groupBy("doc_id").agg(
        F.collect_list("term_id").alias("term_ids"),
        F.collect_list("term_count").alias("term_counts"),
        F.collect_list("beta").alias("betas"),
    )
    kernel = _join_estep_kernel(
        alpha, max_gamma_iter, learning=False, gamma_tol=gamma_tol
    )
    out = docs.mapInPandas(kernel, schema=_JOIN_ESTEP_SCHEMA)
    return out.filter(F.col("kind") == "doc").select(
        F.col("id").alias("doc_id"),
        F.col("vec").alias("gamma"),
        F.col("ll").alias("doc_ll"),
    )
