"""Distributed EXACT quantile selection + bottom-k sketch estimation.

``percentile_disc``-style order statistics per key, at scale. Spark's
window/percentile forms pull one whole key group into a single task —
with few data-sized keys (return flags, event types), that is one
executor sorting a third of a 100 TB table. The exact path here is
rank-selection over the DISTINCT-VALUE histogram instead:

1. collapse rows to (key, value, count) — one shuffle, output is the
   value-cardinality, not the row count;
2. ``keyed_prefix_sum`` over values within each key (the two-pass
   range-shuffle form — no per-key window task);
3. the q-quantile is the smallest value whose cumulative count reaches
   rank r = ceil(q·n) — a broadcast join of the tiny (key, q, r) frame
   and one min-aggregate.

Ranks use INTEGER arithmetic (r = (t·n + 9) div 10 for decile t):
``ceil(0.3 · 10)`` in floating point is 4, not 3 — the classic
float-rank bug — and the DuckDB oracle must agree bit-for-bit.

The SKETCH path estimates the same quantiles from the mergeable
bottom-k row sample (operators/sketches.py::bottomk_rows — the same
sketch the streaming drift monitor uses), with DKW error ~sqrt(ln(2/δ)
/(2k)) in RANK space. Pairing both in one output row makes the error
measurable per query instead of trusted from a formula.

Reference pendant: none — greenfield training-pipeline operator
(SURVEY.md §2 beyond-reference set).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils import driver_frame


def _tenths_frame(spark, tenths: list[int]) -> DataFrame:
    if not tenths or any(not 1 <= t <= 9 for t in tenths):
        raise ValueError("tenths must be decile indices in 1..9")
    return driver_frame(spark, [(t,) for t in tenths], "t int")


def _check_reserved(key_cols: list[str], reserved: set[str]) -> None:
    """Same fail-fast contract as keyed_prefix_sum/pack_sequences: a key
    column sharing a name with an internal or output column would turn
    into an ambiguous reference (or a silently wrong join) deep in the
    plan — raise up front instead."""
    clash = reserved.intersection(key_cols)
    if clash:
        raise ValueError(
            f"key column(s) {sorted(clash)} collide with reserved "
            f"internal/output names {sorted(reserved)}"
        )


def exact_quantiles_by_key(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    tenths: list[int] | None = None,
) -> DataFrame:
    """Exact decile order statistics per key: for each t in ``tenths``
    the r-th smallest value with r = (t·n + 9) div 10 (ceil(t·n/10) in
    integer form), ties included at their true multiplicity. Returns
    (key..., q double, value). NULL values are excluded (order
    statistics over the non-null domain, percentile_disc semantics)."""
    spark = df.sparkSession
    from .packing import keyed_prefix_sum

    # includes keyed_prefix_sum's internals (_pid/_local/_off) so the
    # clash fails HERE with this operator's contract in the message, not
    # deep inside the prefix-sum machinery
    _check_reserved(
        list(key_cols),
        {"t", "q", "value", "_v", "_c", "_cum", "_n", "_r",
         "_pid", "_local", "_off"},
    )
    v = F.col(value_col)
    vc = (
        df.filter(v.isNotNull())
        .groupBy(*key_cols, v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    cum = keyed_prefix_sum(
        vc, list(key_cols), ["_v"], "_c", out_col="_cum"
    )
    n = vc.groupBy(*key_cols).agg(F.sum("_c").alias("_n"))
    qs = _tenths_frame(
        spark, list(range(1, 10)) if tenths is None else tenths
    )
    ranks = n.join(F.broadcast(qs)).select(
        *key_cols,
        "t",
        F.expr("(t * _n + 9) div 10").cast("long").alias("_r"),
    )
    return (
        cum.join(F.broadcast(ranks), list(key_cols))
        .groupBy(*key_cols, "t")
        .agg(
            F.min(F.when(F.col("_cum") >= F.col("_r"), F.col("_v"))).alias(
                "value"
            )
        )
        .select(
            *key_cols,
            (F.col("t") / 10.0).alias("q"),
            "value",
        )
    )


def sampled_quantiles_by_key(
    df: DataFrame,
    key_cols: list[str],
    hash_col: Column,
    value_col: str,
    tenths: list[int] | None = None,
    k: int = 256,
) -> DataFrame:
    """The same decile ranks read off the bottom-k sample's sorted
    values: estimate(t) = sample[(t·m + 9) div 10] (1-based), m =
    |sample|. Deterministic, mergeable, ANSI-reproducible. Returns
    (key..., q double, est, n_sample)."""
    from .sketches import bottomk_rows

    spark = df.sparkSession
    _check_reserved(
        list(key_cols),
        {"t", "q", "est", "n_sample", "sample", "_vals", "_m", "_s",
         "_part", "_pid"},
    )
    v = F.col(value_col)
    samp = bottomk_rows(
        df.filter(v.isNotNull()),
        list(key_cols),
        hash_col,
        v.cast("double"),
        k,
    ).select(
        *key_cols,
        F.expr("array_sort(transform(sample, s -> s.v))").alias("_vals"),
        F.size("sample").alias("_m"),
    )
    qs = _tenths_frame(
        spark, list(range(1, 10)) if tenths is None else tenths
    )
    return samp.join(F.broadcast(qs)).select(
        *key_cols,
        (F.col("t") / 10.0).alias("q"),
        F.expr(
            "element_at(_vals, cast(greatest(1L, (t * _m + 9) div 10) as int))"
        ).alias("est"),
        F.col("_m").cast("long").alias("n_sample"),
    )
