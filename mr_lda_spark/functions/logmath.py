"""Log-space arithmetic (F2) as Spark Column expressions and numpy.

The reference does all M-step accumulation in log space via pairwise
log-sum-exp (`LogMath.add`, used at TermCombiner.java:30,
TermReducer.java:159-212, DocumentMapper.java:298-425).  Relationally we
need the *aggregate* form: a numerically-safe logsumexp over a group.
The two-pass max-shift form keeps everything JVM-side (whole-stage
codegen) — no Python in the aggregation hot path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def log_add(a: Column, b: Column) -> Column:
    """Pairwise stable log(e^a + e^b) — LogMath.add as a Column expr."""
    hi, lo = F.greatest(a, b), F.least(a, b)
    return hi + F.log1p(F.exp(lo - hi))


def logsumexp_agg(
    df: DataFrame, group_cols: list[str], value_col: str, out_col: str
) -> DataFrame:
    """logsumexp per group via max-join-sum: groupBy max → join back →
    max + log(sum(exp(x - max))).

    Both aggregations shuffle on the same group keys, so AQE reuses the
    exchange; every expression stays inside whole-stage codegen (no
    Python).  Numerically identical to the reference's streaming
    LogMath.add fold, but order-independent.

    Deliberately NOT the grouped-map fold ``plans/lda.combine_partials``
    uses for its partial combine: there the per-key row count is
    bounded by cluster parallelism (≤P partition partials per φ term
    block), so a group fits in memory at any data scale.  Here the
    per-key count is data-determined (e.g. df(term) token rows per
    (term, topic) in the join-mode M-step) — a grouped fold would
    buffer an unbounded group per key, so the two-pass join form is
    the one that survives 100 TB.
    """
    maxes = df.groupBy(*group_cols).agg(F.max(value_col).alias("__max"))
    return (
        df.join(maxes, group_cols)
        .groupBy(*group_cols)
        .agg(
            (
                F.first("__max")
                + F.log(F.sum(F.exp(F.col(value_col) - F.col("__max"))))
            ).alias(out_col)
        )
    )


def np_logsumexp(a: np.ndarray, axis=None):
    """Vectorized stable logsumexp for the pandas/numpy kernels."""
    m = np.max(a, axis=axis, keepdims=True)
    out = m + np.log(np.sum(np.exp(a - m), axis=axis, keepdims=True))
    return np.squeeze(out, axis=axis) if axis is not None else float(np.squeeze(out))
