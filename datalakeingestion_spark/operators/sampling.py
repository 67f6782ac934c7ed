"""Deterministic sampling, splitting, and corpus mixing.

Training-data pipelines sample, split, and mix corpora constantly — and
reproducibility matters more than statistical purity: the same document
must land in the same split on every run, on any cluster, regardless of
partitioning. All three operators therefore key off the portable md5
hash of a stable id (``functions/hashing``), NOT ``rand()``:

- ``deterministic_sample`` — keep rows whose hash falls under
  rate·2^32 (a fixed pseudo-random but reproducible subset);
- ``hash_split`` — disjoint train/val/test buckets from hash ranges;
- ``mix_corpora`` — per-source sampling rates + union (the "data
  mixture" step before training).

Everything is a pushable filter over a hash expression — no shuffle, no
RNG state, exact SQL oracles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash32
from ..utils import driver_frame

HASH_SPACE_32 = float(1 << 32)


def _rate_hash(key: Column | str, salt: str = "") -> Column:
    c = F.col(key) if isinstance(key, str) else key
    base = c.cast("string")
    if salt:
        base = F.concat(base, F.lit("#"), F.lit(salt))
    return portable_hash32(base)


def deterministic_sample(
    df: DataFrame, rate: float, key: str, salt: str = ""
) -> DataFrame:
    """Reproducible ~rate sample: hash(key) < rate·2^32. ``salt`` yields
    independent samples from the same keys."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    threshold = int(rate * HASH_SPACE_32)
    return df.filter(_rate_hash(key, salt) < F.lit(threshold))


def hash_split(
    df: DataFrame,
    key: str,
    fractions: Sequence[float] = (0.95, 0.05),
    labels: Sequence[str] = ("train", "val"),
    salt: str = "split",
) -> DataFrame:
    """Disjoint deterministic splits: appends a ``split`` label column
    chosen by which cumulative hash range the row falls into."""
    if len(fractions) != len(labels):
        raise ValueError("fractions and labels must align")
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {sum(fractions)}")
    h = _rate_hash(key, salt)
    expr = F.lit(labels[-1])
    cum = 0.0
    bounds = []
    for frac in fractions[:-1]:
        cum += frac
        bounds.append(int(cum * HASH_SPACE_32))
    # build the CASE back-to-front so earlier ranges win
    for i in range(len(bounds) - 1, -1, -1):
        expr = F.when(h < F.lit(bounds[i]), F.lit(labels[i])).otherwise(expr)
    return df.withColumn("split", expr)


def mix_corpora(
    sources: Sequence[tuple[DataFrame, float, str]],
    key: str,
    salt: str = "mix",
) -> DataFrame:
    """Weighted corpus mixture: per-source deterministic sampling rates +
    union, with a ``mix_source`` provenance column.

    ``sources`` is (df, rate, name) — rate is the KEEP fraction of that
    source (the standard way data mixtures are specified, e.g. wiki×2
    epochs ≈ rate 1.0 twice with different salts).
    """
    parts = []
    for df, rate, name in sources:
        sampled = deterministic_sample(df, rate, key, salt=f"{salt}:{name}")
        parts.append(sampled.withColumn("mix_source", F.lit(name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sample_by_weight(
    df: DataFrame, weight: Column, key: str, salt: str = "qw"
) -> DataFrame:
    """Per-ROW keep probability: keep iff hash(key) < weight·2^32, where
    ``weight`` is a column in [0,1] (values outside are clamped).

    The importance-sampling primitive for quality-weighted corpus
    construction (CCNet-style: high-quality buckets kept at higher
    rates): deterministic per key, so reruns and engines agree, and the
    filter is a pure row expression — pushes past joins, no shuffle, no
    RNG state. Expected kept fraction = mean(weight).
    """
    w = F.least(F.greatest(weight, F.lit(0.0)), F.lit(1.0))
    # floor (not cast) so the threshold truncates identically in every
    # engine: a bare BIGINT cast rounds-to-nearest in DuckDB but truncates
    # in Spark, which flips the verdict for rows whose hash equals the
    # boundary value.
    return df.filter(
        _rate_hash(key, salt) < F.floor(w * F.lit(HASH_SPACE_32)).cast("long")
    )


def cap_tokens_per_group(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    budget: int,
    order_cols: Sequence[str],
) -> DataFrame:
    """Keep each group's prefix (in ``order_cols`` order) whose running
    token total stays ≤ ``budget`` — the per-source token-budget cap a
    mixture spec compiles to ("at most N tokens of src_k").

    One hash shuffle on the group key; the running sum is a frame window
    WITHIN each group (never a global window), so it scales like any
    keyed window. A row that would cross the budget is dropped along with
    everything after it (prefix semantics keep the cut reproducible under
    any partitioning; an exactly-budget prefix is kept whole).
    """
    from pyspark.sql import Window

    if "_running" in df.columns:
        # withColumn would silently overwrite (and then drop) the caller's
        # column of the same name
        raise ValueError(
            "cap_tokens_per_group: input already has a '_running' column; "
            "rename it before capping"
        )
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col(tokens_col).cast("long")).over(w)
    return (
        df.withColumn("_running", running)
        .filter(F.col("_running") <= budget)
        .drop("_running")
    )


def cap_tokens_per_quota(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    quotas: dict[str, int],
    order_cols: Sequence[str],
) -> DataFrame:
    """``cap_tokens_per_group`` with a PER-GROUP budget — the form a
    trainer's mixture spec actually takes ("1B tokens of web, 200M of
    code, 50M of reference"). Each listed group keeps its prefix (in
    ``order_cols`` order) whose running token total stays ≤ its quota;
    groups NOT in ``quotas`` are excluded entirely (a mixture spec is
    exhaustive — an unlisted source must not leak into the training set
    silently).

    The quota table is a broadcast of len(quotas) rows joined onto the
    group key; the running sum is the same within-group frame window as
    the single-budget cap (one hash shuffle, never a global window).
    NULL ``tokens_col`` counts as 0 (consistent with pack_sequences).
    """
    if "_running" in df.columns or "_quota" in df.columns:
        raise ValueError(
            "cap_tokens_per_quota: input already has a '_running'/'_quota' "
            "column; rename it before capping"
        )
    bad = {g: b for g, b in quotas.items() if b < 0}
    if bad:
        raise ValueError(f"negative quotas: {bad}")
    from pyspark.sql import Window

    spark = df.sparkSession
    qdf = driver_frame(
        spark,
        [(g, int(b)) for g, b in sorted(quotas.items())],
        f"{group_col} string, _quota long",
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(
        F.coalesce(F.col(tokens_col).cast("long"), F.lit(0).cast("long"))
    ).over(w)
    return (
        df.join(F.broadcast(qdf), group_col)
        .withColumn("_running", running)
        .filter(F.col("_running") <= F.col("_quota"))
        .drop("_running", "_quota")
    )


def upsample_by_factor(
    df: DataFrame,
    factors: dict[str, int],
    group_col: str = "source",
    default_factor: int = 1,
) -> DataFrame:
    """Integer per-group EPOCH UPSAMPLING — the other half of a data
    recipe beside rate-based downsampling (``mix_corpora``) and token
    quotas (``cap_tokens_per_quota``): "repeat the curated source 3x,
    wikipedia 2x, drop raw crawl" is factors={'curated': 3, 'wiki': 2,
    'crawl': 0}. Every row of a group appears exactly ``factor`` times,
    tagged with ``repeat_idx`` (0-based) so downstream keys stay unique
    as (id, repeat_idx); groups not listed get ``default_factor``; a
    zero factor drops the group. Deterministic, shuffle-free (a
    broadcast factor join + one explode).
    """
    bad = {g: x for g, x in factors.items() if x < 0}
    if bad:
        raise ValueError(f"negative factors: {bad}")
    if default_factor < 0:
        raise ValueError(f"negative default_factor: {default_factor}")
    if "repeat_idx" in df.columns or "_factor" in df.columns:
        raise ValueError(
            "input already has a 'repeat_idx'/'_factor' column; rename it"
        )
    spark = df.sparkSession
    fdf = driver_frame(
        spark,
        [(g, int(x)) for g, x in sorted(factors.items())],
        f"{group_col} string, _factor int",
    )
    return (
        df.join(F.broadcast(fdf), group_col, "left")
        .withColumn(
            "_factor", F.coalesce(F.col("_factor"), F.lit(default_factor))
        )
        # filter BEFORE the explode: Spark's sequence(0, -1) counts
        # DOWN ([0, -1]) rather than returning empty
        .filter(F.col("_factor") > 0)
        .withColumn(
            "repeat_idx",
            F.explode(F.sequence(F.lit(0), F.col("_factor") - 1)),
        )
        .drop("_factor")
    )


def stratified_sample_exact(
    docs: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """EXACTLY n rows per stratum, deterministically.

    Rate-based hash sampling (``deterministic_sample``) gives each stratum
    a binomial-sized draw — fine corpus-wide, wrong when a balanced set
    needs exact per-class counts (eval-set construction, class-balanced
    fine-tuning mixes). Here every row gets a portable-hash rank within
    its stratum (salted, id tie-break → total order) and the top n are
    kept: same rows on every run and every cluster.

    Scale shape: one shuffle on the stratum key; WindowGroupLimit pushes
    the top-n BEFORE the exchange (the w1/w2 plan property), so executors
    ship at most n·|partitions| rows per stratum, not the corpus.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        _rate_hash(F.col(id_col).cast("string"), salt), id_col
    )
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def rank_normalize(
    df: DataFrame, value_col: str, out_col: str = "rank_norm"
) -> DataFrame:
    """Rank-normalize a score column to [0, 1] (percent_rank semantics:
    (rank-1)/(n-1), ties share the min rank) — the standard pre-step
    before mixing heterogeneous quality signals (classifier logits,
    heuristic scores, perplexities live on incomparable scales; their
    RANKS are comparable).

    Scale shape — deliberately NOT ``percent_rank().over(Window.orderBy)``,
    which funnels the whole corpus through ONE partition (the global-
    window trap shuffle_rank_deterministic also avoids): ranks derive
    from the DISTINCT-VALUE table instead. One groupBy builds per-value
    row counts (map-side combinable); the running-prefix window then
    orders only the distinct values — bounded by score resolution, not
    corpus size — and the per-row assignment is a join on the value
    (broadcastable whenever scores are rounded/bucketed). NULL scores
    pass through with a NULL rank.
    """
    from pyspark.sql import Window

    n_total = df.filter(F.col(value_col).isNotNull()).count()
    if n_total <= 1:
        return df.withColumn(
            out_col,
            F.when(F.col(value_col).isNotNull(), F.lit(0.0)),
        )
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # rows strictly below each value: running prefix over DISTINCT values
    w = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, -1)
    ranks = counts.withColumn(
        "__below", F.coalesce(F.sum("__n").over(w), F.lit(0))
    ).select(
        value_col,
        F.round(F.col("__below") / F.lit(float(n_total - 1)), 6).alias(out_col),
    )
    return df.join(F.broadcast(ranks), value_col, "left")


def mix_corpora_temperature(
    df: DataFrame,
    source_col: str,
    key: str,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-balanced corpus mix at α = 0.5 (the multilingual
    rebalancing of mBERT/XLM-R: sampled counts ∝ n_s^α·n_min^(1-α), so
    large sources are damped toward the smallest instead of dominating):
    each source keeps a deterministic hash-sample at rate
    q_s = sqrt(n_min / n_s) — 1.0 for the smallest source, shrinking as
    a source grows.

    Every arithmetic step is a single correctly-rounded IEEE op
    (bigint→double cast, divide, sqrt, multiply, floor), so the keep
    thresholds are bit-identical in any engine — the SQL oracle can
    replicate the whole mix exactly, unlike rand()-based sampling.

    Scale shape: source counts are one map-side-combinable aggregate
    over a frame of |S| rows; the rate joins back via broadcast; the
    keep decision is a pushable per-row filter (hash(key#salt:source) <
    floor(q·2³²)).  Adds ``mix_rate_threshold`` (the bigint threshold)
    for audit.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n_s"))
    n_min = counts.agg(F.min("_n_s").alias("_n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        source_col,
        F.floor(
            F.sqrt(
                F.col("_n_min").cast("double") / F.col("_n_s").cast("double")
            )
            * F.lit(HASH_SPACE_32)
        )
        .cast("long")
        .alias("mix_rate_threshold"),
    )
    h = _rate_hash(
        F.concat(
            F.col(key).cast("string"), F.lit(f"#{salt}:"), F.col(source_col)
        )
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(h < F.col("mix_rate_threshold"))
    )


def weighted_sample_aes(
    df: DataFrame,
    weight: Column,
    key: str,
    k: int,
    salt: str = "aes",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k items, via the Efraimidis-
    Spirakis A-ES scheme made deterministic: each row gets the sort key
    ln(u)/w with u = (hash(key#salt)+1)/2^32 ∈ (0,1], and the k LARGEST
    keys win — equivalent to ordering by u^(1/w), so inclusion
    probability scales with weight, but reproducible on any engine or
    partitioning because u comes from the portable hash, not rand().

    Adds ``aes_key`` (the sort key).  Rows with weight ≤ 0 are excluded
    (they could never win a draw).

    Scale shape: a per-row expression plus a global top-k (per-partition
    partial top-k + tiny merge) — no shuffle of the full data.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    u = (_rate_hash(key, salt) + F.lit(1)).cast("double") / F.lit(
        HASH_SPACE_32
    )
    aes = F.log(u) / weight.cast("double")
    return (
        df.filter(weight > 0)
        .withColumn("aes_key", aes)
        # key tie-break: equal weights + colliding 32-bit hashes yield
        # identical aes_keys, and an untied limit() at the k-th boundary
        # would pick per-partitioning — breaking the reproducibility
        # contract (and the oracle, which ranks by (aes_key, key))
        .orderBy(F.col("aes_key").desc(), F.col(key))
        .limit(k)
    )


def match_target_rates(
    df: DataFrame,
    group_col: str,
    targets: dict[str, float],
) -> DataFrame:
    """Per-group keep rates that reshape the corpus to a TARGET
    distribution by downsampling only (no upsampling): the kept corpus
    is the largest one whose group fractions equal ``targets``, i.e.
    c = min_g(n_g / target_g) and rate_g = c·target_g / n_g (the
    binding group keeps rate 1.0). Groups absent from ``targets`` get
    rate 0 (dropped).

    Rates are rounded to 6 dp — the SAME rounded value both engines
    feed into the hash threshold, so kept sets are reproducible
    cross-engine. Output: (group, n_docs, rate).

    Scale shape: one grouped count, one scalar min, all broadcast-sized
    — the corpus itself is only touched by the count (and later by the
    caller's pure-row-expression filter, which pushes down).
    """
    if not targets:
        raise ValueError("targets must be non-empty")
    if None in targets:
        # a NULL target key never worked: the equality rate mapping
        # below (col == NULL → NULL) silently dropped the group. Refuse
        # explicitly; callers should recode NULLs to a sentinel first.
        raise ValueError(
            "None is not a valid target group — recode NULL groups to "
            "a sentinel value before mixing"
        )
    if any(t <= 0 for t in targets.values()):
        raise ValueError("target fractions must be positive")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    # a target group with ZERO corpus rows makes the promised mixture
    # infeasible (c would be 0 → empty corpus); failing loudly beats
    # shipping a silently mis-mixed dataset
    # only the target groups' presence matters — filter BEFORE collecting
    # so driver traffic is bounded by len(targets), not by the group
    # column's cardinality
    present = {
        r[group_col]
        for r in counts.filter(F.col(group_col).isin(list(targets)))
        .select(group_col)
        .collect()
    }
    missing = sorted(set(targets) - present)
    if missing:
        raise ValueError(
            f"target groups absent from the corpus: {missing} — the "
            "target distribution is unreachable by downsampling"
        )
    target = None
    for g, t in targets.items():
        target = (
            F.when(F.col(group_col) == g, F.lit(float(t)))
            if target is None
            else target.when(F.col(group_col) == g, F.lit(float(t)))
        )
    counts = counts.withColumn("target_frac", target)
    feas = counts.filter(F.col("target_frac").isNotNull()).agg(
        F.min(F.col("n_docs").cast("double") / F.col("target_frac")).alias(
            "c"
        )
    )
    return (
        counts.join(F.broadcast(feas))
        .withColumn(
            "rate",
            F.when(
                F.col("target_frac").isNotNull(),
                F.round(
                    F.least(
                        F.lit(1.0),
                        (F.col("c") * F.col("target_frac"))
                        / F.col("n_docs").cast("double"),
                    ),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .select(group_col, "n_docs", "rate")
    )
