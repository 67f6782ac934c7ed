"""Round-9b queries (second round-9 session) — time-series repair,
privacy, entity-resolution completion, retrieval fusion, corpus mixing,
and the trainable quality classifier.

- ``timeseries_gapfill_ffill`` — dense per-user daily grid with
  last-observation-carried-forward fill
  (``operators/timeseries.py::daily_gapfill_ffill``); day buckets are
  tz-independent integer epoch-day math.
- ``k_anonymity_audit_customers`` / ``k_anonymity_generalize_customers``
  — re-identification audit and its FIXER, the local-recoding
  generalization ladder (``operators/privacy.py``).
- ``curation_pipeline_v3`` — the modern-pipeline capstone: trained
  classifier gate → MinHash cluster dedup → target-distribution mix,
  every stage's oracle fragment composed into one statement.
- ``split_by_dedup_cluster`` — leakage-safe train/eval split keyed on
  near-dup cluster ids (contract: clusters split across = 0).
- ``entity_resolution_golden`` / ``entity_resolution_incremental`` —
  survivorship golden records and batch-vs-golden incremental matching
  (``operators/linkage.py::golden_records`` / ``match_against``).
- ``mix_match_target_lang`` — downsample-only rate solver reshaping the
  corpus to a target language mix
  (``operators/sampling.py::match_target_rates``).
- ``hybrid_rrf_topk`` — reciprocal-rank fusion of the BM25 and dense
  cosine top-50 lists (``operators/similarity.py::rrf_fuse``).
- ``quality_classifier_train_k3`` / ``quality_classifier_confusion_k3``
  / ``quality_classifier_calibration_k3`` — the TRAINABLE quality
  classifier (``operators/classifier.py``): 3 steps of full-batch
  hard-sigmoid logistic GD on weak-supervision labels (the
  CC-Net/RefinedWeb pattern: label by a cheap heuristic rule, train a
  classifier on cheap features). The hard-sigmoid link keeps every
  per-row value rational, and gradient sums are per-row-rounded exact
  decimals — so the oracle UNROLLS the identical three iterations as
  CTEs and matches the learned weights bit-for-bit.

Reference pendant: none — greenfield analytics/curation operators
(SURVEY.md §2 beyond-reference set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fixtures import load_table
from ..utils import driver_frame
from .registry import register

# ---------------------------------------------------------------------------
# time-series gap-fill (events)
# ---------------------------------------------------------------------------


@register(
    "timeseries_gapfill_ffill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS day_total
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ), grid AS (
      SELECT s.user_id,
             CAST(unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span s
    )
    SELECT g.user_id, CAST(g.day AS VARCHAR) AS day,
           CAST(last_value(d.day_total IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day ROWS UNBOUNDED PRECEDING
           ) AS DOUBLE) AS value_ffill,
           d.day_total IS NOT NULL AS observed
    FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
    doc="Dense daily grid + forward-fill "
    "(operators/timeseries.py::daily_gapfill_ffill): per-user span "
    "densified via sequence+explode (linear in OUTPUT rows — no calendar "
    "cross join), daily totals summed in exact decimal, fill as one "
    "rows-unbounded-preceding last(ignorenulls) window per key.",
)
def timeseries_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import daily_gapfill_ffill

    events = load_table(spark, sf_dir, "events")
    # ISO-string day: a raw DATE column hashes differently across the
    # driver's pandas readers (registry-wide convention — no raw DATE
    # result columns); the OPERATOR keeps the typed date.
    return daily_gapfill_ffill(events).withColumn(
        "day", F.col("day").cast("string")
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity (customer)
# ---------------------------------------------------------------------------


@register(
    "k_anonymity_audit_customers",
    oracle="""
    SELECT c_nationkey,
           CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_kbucket,
           COUNT(*) AS class_size,
           COUNT(DISTINCT c_mktsegment) AS l_diversity,
           COUNT(*) >= 5 AS k_anonymous,
           COUNT(DISTINCT c_mktsegment) >= 2 AS l_diverse
    FROM customer GROUP BY 1, 2
    """,
    doc="k-anonymity + l-diversity audit "
    "(operators/privacy.py::k_anonymity_audit): equivalence classes over "
    "the quasi-identifiers (nation, 1000-unit balance bucket) with market "
    "segment sensitive; classes failing k>=5 or l>=2 are the suppression "
    "set. One hash groupBy — partial-aggregatable, no joins.",
)
def k_anonymity_audit_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import k_anonymity_audit

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_kbucket", F.floor(F.col("c_acctbal") / F.lit(1000.0))
    )
    return k_anonymity_audit(
        cust,
        ["c_nationkey", "bal_kbucket"],
        "c_mktsegment",
        k=5,
        l_div=2,
    )


@register(
    "k_anonymity_generalize_customers",
    oracle="""
    WITH base AS (
      SELECT c.c_custkey,
             CAST(c.c_nationkey AS VARCHAR) AS g0_geo,
             CAST(CAST(FLOOR(c.c_acctbal / 1000.0) AS BIGINT) AS VARCHAR) AS g0_bal,
             r.r_name AS g1_geo,
             CAST(CAST(FLOOR(c.c_acctbal / 5000.0) AS BIGINT) AS VARCHAR) AS g1_bal
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    l0 AS (SELECT *, 0 AS lvl, g0_geo AS qi_geo, g0_bal AS qi_bal FROM base),
    s0 AS (SELECT qi_geo, qi_bal, COUNT(*) AS n
           FROM l0 WHERE lvl = 0 GROUP BY 1, 2),
    r1 AS (
      SELECT l0.g1_geo, l0.g1_bal,
             CASE WHEN l0.lvl = 0 AND NOT COALESCE(s0.n >= 5, FALSE)
                  THEN 1 ELSE l0.lvl END AS lvl,
             CASE WHEN l0.lvl = 0 AND NOT COALESCE(s0.n >= 5, FALSE)
                  THEN l0.g1_geo ELSE l0.qi_geo END AS qi_geo,
             CASE WHEN l0.lvl = 0 AND NOT COALESCE(s0.n >= 5, FALSE)
                  THEN l0.g1_bal ELSE l0.qi_bal END AS qi_bal
      FROM l0 LEFT JOIN s0
        ON l0.lvl = 0 AND l0.qi_geo = s0.qi_geo AND l0.qi_bal = s0.qi_bal
    ),
    s1 AS (SELECT qi_geo, qi_bal, COUNT(*) AS n
           FROM r1 WHERE lvl = 1 GROUP BY 1, 2),
    r2 AS (
      SELECT CASE WHEN r1.lvl = 1 AND NOT COALESCE(s1.n >= 5, FALSE)
                  THEN 2 ELSE r1.lvl END AS lvl,
             CASE WHEN r1.lvl = 1 AND NOT COALESCE(s1.n >= 5, FALSE)
                  THEN NULL ELSE r1.qi_geo END AS qi_geo,
             CASE WHEN r1.lvl = 1 AND NOT COALESCE(s1.n >= 5, FALSE)
                  THEN NULL ELSE r1.qi_bal END AS qi_bal
      FROM r1 LEFT JOIN s1
        ON r1.lvl = 1 AND r1.qi_geo = s1.qi_geo AND r1.qi_bal = s1.qi_bal
    )
    SELECT lvl, qi_geo, qi_bal, COUNT(*) AS class_size
    FROM r2 GROUP BY 1, 2, 3
    """,
    doc="Generalization ladder — the FIXER for the k-anonymity audit "
    "(operators/privacy.py::generalize_to_k): records in classes < k=5 "
    "coarsen from (nation, 1000-unit balance bucket) to (region, "
    "5000-unit bucket); still-failing records are suppressed (the "
    "all-NULL class, lvl=2). Local recoding: class sizes are keyed "
    "(level, QI) over promoted rows only, so every emitted class has "
    ">= k members or is suppressed. Per level: one class-count-sized "
    "grouped count broadcast-joined back — the record frame never "
    "shuffles; the oracle unrolls the two rungs + suppression as CTEs.",
)
def k_anonymity_generalize_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.privacy import generalize_to_k

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    base = (
        cust.join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            F.col("c_nationkey").cast("string").alias("g0_geo"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("string")
            .alias("g0_bal"),
            F.col("r_name").alias("g1_geo"),
            F.floor(F.col("c_acctbal") / F.lit(5000.0))
            .cast("string")
            .alias("g1_bal"),
        )
    )
    out = generalize_to_k(
        base,
        levels=[
            {"qi_geo": "g0_geo", "qi_bal": "g0_bal"},
            {"qi_geo": "g1_geo", "qi_bal": "g1_bal"},
        ],
        k=5,
    )
    return out.groupBy("lvl", "qi_geo", "qi_bal").agg(
        F.count(F.lit(1)).alias("class_size")
    )


# ---------------------------------------------------------------------------
# curation pipeline v3: classifier gate -> cluster dedup -> target mix
# ---------------------------------------------------------------------------

_V3_GATE = 0.45
_V3_TARGETS = {"en": 0.4, "fr": 0.15, "es": 0.15, "de": 0.15, "zh": 0.15}


def _register_curation_v3() -> None:
    from .llm import _h32_sql, _minhash_pairs_ctes

    case = " ".join(
        f"WHEN lang = '{g}' THEN {t}" for g, t in _V3_TARGETS.items()
    )
    h = _h32_sql("CAST(doc_id AS VARCHAR) || '#tmix'")
    feat_cols = ", ".join(
        f"{sql} AS {name}" for name, sql in _CLS_FEATURE_SQL.items()
    )
    score_z = " + ".join(
        ["wN.w0"]
        + [f"wN.w{j + 1} * {c}" for j, c in enumerate(_CLS_FEATURES)]
    ).replace("wN", f"w{_CLS_STEPS}")

    @register(
        "curation_pipeline_v3",
        oracle=_cls_train_ctes(recursive=True)
        + f""",
        docfeats AS (SELECT doc_id, lang, text, {feat_cols} FROM documents),
        gated AS (
          SELECT doc_id, lang, text FROM docfeats, w{_CLS_STEPS}
          WHERE greatest(0.0, least(1.0, 0.25 * ({score_z}) + 0.5))
                >= {_V3_GATE}
        ),
        {_minhash_pairs_ctes(0.5, source="gated")},
        edges AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
                  UNION ALL
                  SELECT doc_id_b, doc_id_a FROM pairs),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
        ),
        lbl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
                FROM reach GROUP BY a),
        reps AS (SELECT g.doc_id, g.lang
                 FROM gated g LEFT JOIN lbl ON g.doc_id = lbl.doc_id
                 WHERE COALESCE(lbl.cluster_id, g.doc_id) = g.doc_id),
        counts AS (SELECT lang, COUNT(*) AS n_candidates
                   FROM reps GROUP BY lang),
        t AS (SELECT lang, n_candidates, CASE {case} END AS target_frac
              FROM counts),
        c AS (SELECT MIN(CAST(n_candidates AS DOUBLE) / target_frac) AS c
              FROM t WHERE target_frac IS NOT NULL),
        rates AS (SELECT lang,
                         CASE WHEN target_frac IS NOT NULL
                              THEN round(least(1.0, (c.c * target_frac)
                                   / CAST(n_candidates AS DOUBLE)), 6)
                              ELSE 0.0 END AS rate
                  FROM t, c),
        labeled AS (SELECT r.doc_id, r.lang, rt.rate
                    FROM reps r JOIN rates rt ON r.lang = rt.lang)
        SELECT lang, COUNT(*) AS n_candidates, MAX(rate) AS rate,
               CAST(SUM(CAST({h} < CAST(FLOOR(rate * 4294967296.0) AS BIGINT)
                        AS BIGINT)) AS BIGINT) AS n_kept
        FROM labeled GROUP BY lang
        """,
        doc="Curation capstone v3 — the MODERN pipeline order, every "
        "stage built this round: (1) TRAINED hard-sigmoid classifier "
        "gate at score >= 0.45 (weights from the shared per-fixture "
        "training cache; oracle re-derives them through the unrolled GD "
        "CTEs), (2) MinHash-LSH cluster dedup keeping min-id "
        "representatives (recursive-closure oracle over the gated "
        "subset), (3) target-distribution mixing of the survivors "
        "(40/15/15/15/15 by language, downsample-only rate solver, "
        "deterministic hash keep). Per-stage scale paths unchanged: "
        "classifier gate is a zero-shuffle projection, dedup is banded "
        "(never all-pairs), mixing is a grouped count + scalar min.",
    )
    def curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators import dedup as dd
        from ..operators.classifier import score
        from ..operators.sampling import (
            HASH_SPACE_32,
            _rate_hash,
            match_target_rates,
        )

        docs = load_table(spark, sf_dir, "documents")
        w = _cls_trained_weights(spark, sf_dir)
        feats = docs.selectExpr(
            "doc_id",
            "lang",
            "text",
            *[f"{sql} AS {name}" for name, sql in _CLS_FEATURE_SQL.items()],
        )
        gated = feats.filter(
            score(w, _CLS_FEATURES) >= F.lit(_V3_GATE)
        ).select("doc_id", "lang", "text")
        pairs = dd.minhash_near_duplicates(gated, threshold=0.5)
        labels = dd.connected_components(pairs)
        reps = (
            gated.select("doc_id", "lang")
            .join(labels, "doc_id", "left")
            .filter(
                F.coalesce(F.col("cluster_id"), F.col("doc_id"))
                == F.col("doc_id")
            )
            .select("doc_id", "lang")
        )
        rates = match_target_rates(reps, "lang", _V3_TARGETS).select(
            "lang", "rate"
        )
        labeled = reps.join(F.broadcast(rates), "lang")
        kept = _rate_hash("doc_id", "tmix") < F.floor(
            F.col("rate") * F.lit(float(HASH_SPACE_32))
        ).cast("long")
        return labeled.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max("rate").alias("rate"),
            F.sum(kept.cast("long")).alias("n_kept"),
        )


# NOTE: _register_curation_v3() is invoked at the END of this module —
# it composes the classifier fragments defined below.


# ---------------------------------------------------------------------------
# rolling robust anomaly flags (events)
# ---------------------------------------------------------------------------


@register(
    "rolling_mad_anomalies",
    oracle="""
    WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      SUM(CAST(value AS DECIMAL(18,6))) AS t
               FROM events GROUP BY 1, 2),
    w AS (SELECT user_id, day, CAST(t AS DOUBLE) AS v,
                 list(CAST(t AS DOUBLE)) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS 6 PRECEDING) AS arr
          FROM d),
    m AS (SELECT user_id, day, v, arr,
                 list_extract(list_sort(arr),
                   CAST(FLOOR((len(arr) + 1) / 2) AS INT)) AS med
          FROM w),
    x AS (SELECT user_id, day, v, med,
                 list_extract(
                   list_sort(list_transform(arr, a -> abs(a - med))),
                   CAST(FLOOR((len(arr) + 1) / 2) AS INT)) AS mad
          FROM m)
    SELECT user_id, CAST(day AS VARCHAR) AS day,
           round(v, 6) AS v, round(med, 6) AS med, round(mad, 6) AS mad,
           ((mad > 0.0 AND abs(v - med) > 3.0 * mad)
            OR (mad = 0.0 AND abs(v - med) > 0.0)) AS is_anomaly
    FROM x
    """,
    doc="Rolling robust anomaly flags "
    "(operators/timeseries.py::rolling_mad_flags): each user-day total "
    "compared to its trailing-7-day LOWER median via the median absolute "
    "deviation (|x - med| > 3*MAD; MAD=0 windows fall back to flagging "
    "any nonzero deviation) — the point-anomaly monitor "
    "beside the distribution-level PSI/KS drift monitors. Sorted-array "
    "element extraction (no interpolation) keeps even-length windows "
    "engine-exact; per-row state is the bounded trailing array, one "
    "window per key.",
)
def rolling_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import rolling_mad_flags

    events = load_table(spark, sf_dir, "events")
    day = F.date_from_unix_date(
        F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast(
            "int"
        )
    )
    daily = (
        events.select(
            "user_id",
            day.alias("day"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("v").alias("day_total"))
    )
    return rolling_mad_flags(daily, window=7, k=3.0).withColumn(
        "day", F.col("day").cast("string")
    )


@register(
    "weighted_median_price_by_flag",
    oracle="""
    WITH r AS (SELECT l_returnflag AS grp,
                      l_extendedprice AS v,
                      CAST(l_quantity AS DECIMAL(18,6)) AS w
               FROM lineitem),
    c AS (SELECT grp, v, w,
                 SUM(w) OVER (PARTITION BY grp ORDER BY v
                              RANGE UNBOUNDED PRECEDING) AS cumw,
                 SUM(w) OVER (PARTITION BY grp) AS totw
          FROM r)
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(totw) AS DOUBLE) AS total_weight,
           MIN(CASE WHEN 2 * cumw >= totw THEN v END) AS weighted_median
    FROM c GROUP BY grp
    """,
    doc="Exact weighted (lower) median per group — the quantity-weighted "
    "typical price, robust to a few huge line items the plain median "
    "ignores and the mean overweights. Cumulative weights use a RANGE "
    "frame (ties share one cumulative value), so the result is "
    "deterministic WITHOUT a unique tie-break column — the fixture's "
    "(orderkey, linenumber) is not unique, which a ROWS frame would "
    "turn into a nondeterministic hash mismatch. Weights sum in exact "
    "decimal; one window + one groupBy on the same partitioning. The "
    "approximate sibling at extreme scale is the bottom-k quantile "
    "sketch (operators/quantiles.py).",
)
def weighted_median_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    r = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("decimal(18,6)").alias("w"),
    )
    wc = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("grp")
    c = r.select(
        "grp",
        "v",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wt).alias("totw"),
    )
    return c.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("totw").cast("double").alias("total_weight"),
        F.min(
            F.when(F.lit(2) * F.col("cumw") >= F.col("totw"), F.col("v"))
        ).alias("weighted_median"),
    )


# ---------------------------------------------------------------------------
# robust aggregate: exact trimmed mean (orders)
# ---------------------------------------------------------------------------


@register(
    "trimmed_mean_price_by_priority",
    oracle="""
    WITH r AS (SELECT o_orderpriority AS grp,
                      o_totalprice AS v,
                      row_number() OVER (PARTITION BY o_orderpriority
                                         ORDER BY o_totalprice, o_orderkey) AS rk,
                      COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
               FROM orders)
    SELECT grp, CAST(MAX(n) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CASE WHEN rk > CAST(FLOOR(n / 10) AS BIGINT)
                                AND rk <= n - CAST(FLOOR(n / 10) AS BIGINT)
                               THEN CAST(v AS DECIMAL(18,6))
                               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / (MAX(n) - 2 * CAST(FLOOR(MAX(n) / 10) AS BIGINT)), 6)
             AS trimmed_mean,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / MAX(n), 6)
             AS mean_all
    FROM r GROUP BY grp
    """,
    doc="Exact 10%-trimmed mean per group (robust aggregate beside the "
    "plain mean — outlier-resistant central tendency for skewed money "
    "columns): deterministic rank (value, key tie-break) drops "
    "floor(n/10) rows from each tail, sums in exact decimal. One window "
    "+ one groupBy on the same partitioning (single Exchange). The "
    "approximate sibling at extreme scale is quantile-threshold "
    "filtering via the exact_quantiles operator.",
)
def trimmed_mean_price_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    wn = Window.partitionBy("o_orderpriority")
    r = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k_lo = F.floor(F.col("n") / 10).cast("bigint")
    inner = F.when(
        (F.col("rk") > k_lo) & (F.col("rk") <= F.col("n") - k_lo),
        F.col("v").cast("decimal(18,6)"),
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    return r.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.round(
            F.sum(inner).cast("double")
            / (
                F.max("n")
                - F.lit(2) * F.floor(F.max("n") / 10).cast("bigint")
            ),
            6,
        ).alias("trimmed_mean"),
        F.round(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
            / F.max("n"),
            6,
        ).alias("mean_all"),
    )


# ---------------------------------------------------------------------------
# leakage-safe train/eval split (documents)
# ---------------------------------------------------------------------------

_SPLIT_THRESHOLD = int(0.8 * 2**32)  # hash_split's cumulative bound for 80/20


def _check_split_threshold() -> None:
    # the oracle embeds _SPLIT_THRESHOLD as a literal while the operator
    # derives its bound from hash_split's HASH_SPACE_32 — verify the two
    # agree at import time (an assert inside the plan fn would be
    # stripped under python -O and would fire only after the frames were
    # already built)
    from ..operators.sampling import HASH_SPACE_32

    if _SPLIT_THRESHOLD != int(0.8 * HASH_SPACE_32):
        raise ValueError(
            "_SPLIT_THRESHOLD diverged from hash_split's HASH_SPACE_32 — "
            "oracle and operator would disagree on the 80/20 boundary"
        )


_check_split_threshold()


def _register_split_by_cluster() -> None:
    # llm.py owns the shared MinHash pair CTE chain (loaded before this
    # module by the registry loader)
    from .llm import _h32_sql, _minhash_pairs_ctes

    @register(
        "split_by_dedup_cluster",
        oracle=f"""
        WITH RECURSIVE {_minhash_pairs_ctes(0.5)},
        edges AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
                  UNION ALL
                  SELECT doc_id_b, doc_id_a FROM pairs),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
        ),
        cc AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
               FROM reach GROUP BY a),
        allc AS (SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
                 FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
        labeled AS (
          SELECT doc_id, cluster_id,
                 CASE WHEN {_h32_sql("CAST(cluster_id AS VARCHAR) || '#split'")}
                      < {_SPLIT_THRESHOLD} THEN 'train' ELSE 'eval' END AS split,
                 CASE WHEN {_h32_sql("CAST(doc_id AS VARCHAR) || '#split'")}
                      < {_SPLIT_THRESHOLD} THEN 'train' ELSE 'eval' END AS naive_split
          FROM allc
        ),
        per AS (SELECT cluster_id, COUNT(*) AS nd,
                       COUNT(DISTINCT split) AS ns,
                       COUNT(DISTINCT naive_split) AS nn,
                       SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS tr
                FROM labeled GROUP BY cluster_id)
        SELECT CAST(SUM(nd) AS BIGINT) AS n_docs,
               COUNT(*) AS n_clusters,
               CAST(SUM(tr) AS BIGINT) AS n_train_docs,
               CAST(SUM(nd) - SUM(tr) AS BIGINT) AS n_eval_docs,
               CAST(SUM(CASE WHEN nn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS clusters_leaking_naive,
               CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS clusters_leaking_clustered
        FROM per
        """,
        doc="Leakage-safe train/eval split: hash-split on the MinHash-LSH "
        "near-dup CLUSTER id (singletons = own doc_id) instead of the doc "
        "id, so near-duplicates can never straddle the split — "
        "clusters_leaking_clustered is the CONTRACT column (must be 0) "
        "and clusters_leaking_naive counts the clusters a doc-keyed split "
        "WOULD tear apart (the eval-contamination a naive split ships). "
        "Composes dedup.minhash_near_duplicates + connected_components + "
        "sampling.hash_split; the split itself is one hash projection and "
        "the leak audit one cluster-keyed aggregate.",
    )
    def split_by_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators import dedup as dd
        from ..operators.sampling import _rate_hash, hash_split

        docs = load_table(spark, sf_dir, "documents")
        pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
        cc = dd.connected_components(pairs)
        allc = (
            docs.select("doc_id")
            .join(cc, "doc_id", "left")
            .withColumn(
                "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            )
        )
        labeled = hash_split(
            allc, "cluster_id", (0.8, 0.2), ("train", "eval"), salt="split"
        ).withColumn(
            "naive_split",
            F.when(
                _rate_hash("doc_id", "split") < F.lit(_SPLIT_THRESHOLD),
                F.lit("train"),
            ).otherwise(F.lit("eval")),
        )
        per = labeled.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("nd"),
            F.countDistinct("split").alias("ns"),
            F.countDistinct("naive_split").alias("nn"),
            F.sum(
                F.when(F.col("split") == "train", F.lit(1)).otherwise(F.lit(0))
            ).alias("tr"),
        )
        return per.agg(
            F.sum("nd").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("tr").cast("long").alias("n_train_docs"),
            (F.sum("nd") - F.sum("tr")).cast("long").alias("n_eval_docs"),
            F.sum((F.col("nn") > 1).cast("int"))
            .cast("long")
            .alias("clusters_leaking_naive"),
            F.sum((F.col("ns") > 1).cast("int"))
            .cast("long")
            .alias("clusters_leaking_clustered"),
        )


_register_split_by_cluster()


# ---------------------------------------------------------------------------
# entity resolution: survivorship / golden records (customer)
# ---------------------------------------------------------------------------


def _register_golden_records() -> None:
    # round9.py owns the shared weighted pair graph (loaded before this
    # module by the registry loader) — the golden records MUST collapse
    # the identical clusters entity_resolution_clusters emits
    from .round9 import _W_MIN_SCORE, _WEIGHTED_SCORE_SQL

    @register(
        "entity_resolution_golden",
        oracle=f"""
        WITH RECURSIVE scored AS (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
          FROM customer a JOIN customer b
            ON a.c_nationkey = b.c_nationkey
           AND a.c_mktsegment = b.c_mktsegment
           AND a.c_custkey < b.c_custkey
          WHERE ({_WEIGHTED_SCORE_SQL}) >= {_W_MIN_SCORE}
        ),
        edges AS (SELECT id_a AS a, id_b AS b FROM scored
                  UNION ALL
                  SELECT id_b, id_a FROM scored),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
        ),
        labels AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
                   FROM reach GROUP BY a),
        members AS (SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
                           COALESCE(l.cluster_id, c.c_custkey) AS entity_id
                    FROM customer c LEFT JOIN labels l ON c.c_custkey = l.doc_id),
        agg AS (SELECT entity_id, COUNT(*) AS n_members,
                       MAX(length(c_name)) AS max_len,
                       MAX(c_acctbal) AS c_acctbal,
                       MIN(c_nationkey) AS c_nationkey
                FROM members GROUP BY entity_id),
        gold AS (SELECT m.entity_id, MIN(m.c_name) AS golden_c_name
                 FROM members m JOIN agg ON m.entity_id = agg.entity_id
                 WHERE length(m.c_name) = agg.max_len
                 GROUP BY m.entity_id)
        SELECT agg.entity_id, agg.n_members, agg.c_acctbal, agg.c_nationkey,
               gold.golden_c_name
        FROM agg JOIN gold ON agg.entity_id = gold.entity_id
        """,
        doc="Entity-resolution SURVIVORSHIP (operators/linkage.py::"
        "golden_records): each resolved customer entity (the identical "
        "weighted Fellegi-Sunter clusters entity_resolution_clusters "
        "emits, singletons included) collapses to ONE golden record — "
        "name survives as the lexicographically smallest among the "
        "LONGEST (completeness heuristic, deterministic tie-break), "
        "balance as MAX, nation as MIN. Two grouped aggregates + one "
        "join, all keyed on the entity id; the oracle re-derives the "
        "clusters through the same recursive closure so pairs → "
        "clusters → golden records can never desynchronize.",
    )
    def entity_resolution_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators import dedup as dd
        from ..operators.linkage import golden_records
        from .round9 import _weighted_customer_pairs

        pairs = _weighted_customer_pairs(spark, sf_dir).select(
            F.col("id_a").alias("doc_id_a"), F.col("id_b").alias("doc_id_b")
        )
        labels = dd.connected_components(pairs)
        cust = load_table(spark, sf_dir, "customer")
        members = (
            cust.select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
            .join(labels, cust.c_custkey == labels.doc_id, "left")
            .withColumn(
                "entity_id", F.coalesce(F.col("cluster_id"), F.col("c_custkey"))
            )
            .drop("doc_id", "cluster_id")
        )
        return golden_records(
            members,
            "entity_id",
            "c_name",
            max_cols=("c_acctbal",),
            min_cols=("c_nationkey",),
        ).select(
            "entity_id",
            "n_members",
            "c_acctbal",
            "c_nationkey",
            "golden_c_name",
        )


_register_golden_records()


def _er_lake_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The shared incremental-ER fixture split: the lake (custkey % 11
    <> 0) resolved into golden records + its record→entity crosswalk,
    and the incoming batch (custkey % 11 = 0). Used by both
    ``entity_resolution_incremental`` (round 9, match only) and
    ``entity_resolution_merge`` (round 10, the fold) — the two queries
    MUST resolve the identical lake or their oracles desynchronize.

    Returns ``(lake, batch, golden, crosswalk)`` where ``golden``
    carries (c_custkey=entity id, c_name=golden name, c_acctbal,
    c_nationkey, c_mktsegment, n_members) and ``crosswalk`` is
    (c_custkey=record id, entity_id)."""
    from ..operators import dedup as dd
    from ..operators.linkage import golden_records, weighted_linkage_pairs
    from .round9 import (
        _customer_derived,
        _customer_linkage_fields,
        _W_MIN_SCORE,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    lake = cust.filter(F.col("c_custkey") % 11 != 0)
    batch = cust.filter(F.col("c_custkey") % 11 == 0)

    pairs = weighted_linkage_pairs(
        _customer_derived(lake),
        "c_custkey",
        ["c_nationkey", "c_mktsegment"],
        _customer_linkage_fields(),
        min_score=_W_MIN_SCORE,
    ).select(
        F.col("id_a").alias("doc_id_a"), F.col("id_b").alias("doc_id_b")
    )
    labels = dd.connected_components(pairs)
    # r13 (guide §5, VERDICT item 4): members feeds golden_records'
    # two aggregates AND the crosswalk; golden feeds up to three
    # consumers in resolve_increment (blocked match, base-id aggregate,
    # survivorship fold). Left lazy, each reference re-ran the
    # lake⋈labels join + survivorship aggregates — persist both
    # (members is lake-record-sized, golden entity-sized; lazy,
    # LRU-evictable, the dedup.lsh_candidate_report policy).
    members = (
        lake.join(labels, lake.c_custkey == labels.doc_id, "left")
        .withColumn(
            "entity_id",
            F.coalesce(F.col("cluster_id"), F.col("c_custkey")),
        )
        .drop("doc_id", "cluster_id")
        .persist()
    )
    golden = golden_records(
        members,
        "entity_id",
        "c_name",
        max_cols=("c_acctbal",),
        min_cols=("c_nationkey", "c_mktsegment"),
    ).persist().select(
        F.col("entity_id").alias("c_custkey"),
        F.col("golden_c_name").alias("c_name"),
        "c_acctbal",
        "c_nationkey",
        "c_mktsegment",
        "n_members",
    )
    crosswalk = members.select("c_custkey", "entity_id")
    return lake, batch, golden, crosswalk


def _register_incremental_resolution() -> None:
    from .round9 import _W_MIN_SCORE, _WEIGHTED_SCORE_SQL

    @register(
        "entity_resolution_incremental",
        oracle=f"""
        WITH RECURSIVE lake AS (
          SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal
          FROM customer WHERE c_custkey % 11 <> 0
        ),
        batch AS (
          SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal
          FROM customer WHERE c_custkey % 11 = 0
        ),
        scored AS (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
          FROM lake a JOIN lake b
            ON a.c_nationkey = b.c_nationkey
           AND a.c_mktsegment = b.c_mktsegment
           AND a.c_custkey < b.c_custkey
          WHERE ({_WEIGHTED_SCORE_SQL}) >= {_W_MIN_SCORE}
        ),
        edges AS (SELECT id_a AS a, id_b AS b FROM scored
                  UNION ALL
                  SELECT id_b, id_a FROM scored),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
        ),
        labels AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
                   FROM reach GROUP BY a),
        members AS (SELECT c.*, COALESCE(l.cluster_id, c.c_custkey) AS entity_id
                    FROM lake c LEFT JOIN labels l ON c.c_custkey = l.doc_id),
        agg AS (SELECT entity_id, MAX(length(c_name)) AS max_len,
                       MAX(c_acctbal) AS c_acctbal,
                       MIN(c_nationkey) AS c_nationkey,
                       MIN(c_mktsegment) AS c_mktsegment
                FROM members GROUP BY entity_id),
        gold AS (SELECT m.entity_id, MIN(m.c_name) AS c_name
                 FROM members m JOIN agg ON m.entity_id = agg.entity_id
                 WHERE length(m.c_name) = agg.max_len
                 GROUP BY m.entity_id),
        golden AS (SELECT agg.entity_id AS c_custkey, gold.c_name,
                          agg.c_acctbal, agg.c_nationkey, agg.c_mktsegment
                   FROM agg JOIN gold ON agg.entity_id = gold.entity_id),
        cand AS (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                 ({_WEIGHTED_SCORE_SQL}) AS score
          FROM batch a JOIN golden b
            ON a.c_nationkey = b.c_nationkey
           AND a.c_mktsegment = b.c_mktsegment
        ),
        best AS (SELECT id_a, id_b, score, row_number() OVER (
                   PARTITION BY id_a ORDER BY score DESC, id_b) AS rn
                 FROM cand WHERE score >= {_W_MIN_SCORE})
        SELECT b.c_custkey,
               COALESCE(best.id_b, b.c_custkey) AS entity_id,
               best.id_b IS NOT NULL AS matched,
               best.score
        FROM batch b LEFT JOIN best
          ON best.id_a = b.c_custkey AND best.rn = 1
        """,
        doc="INCREMENTAL entity resolution — the at-the-door MDM flow "
        "(operators/linkage.py::match_against): the lake (custkey % 11 "
        "<> 0) resolves once into golden records; the incoming batch "
        "(custkey % 11 = 0) then scores ONLY against the entity-sized "
        "golden table inside shared blocks (same Fellegi-Sunter weights "
        "via the shared _weighted_score), taking the best match (score "
        "desc, entity asc) at score >= 15 or minting a new entity. Per "
        "batch cost is O(batch x entities-per-block) — the lake is "
        "never re-paired (the linkage sibling of "
        "dedup_incremental_vs_lake); the oracle re-derives the golden "
        "table through the same closure + survivorship CTEs.",
    )
    def entity_resolution_incremental(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from pyspark.sql import Window

        from ..operators.linkage import match_against
        from .round9 import _customer_derived, _customer_linkage_fields

        derived = _customer_derived
        fields = _customer_linkage_fields()
        _, batch, golden, _ = _er_lake_frames(spark, sf_dir)
        cand = match_against(
            derived(batch),
            derived(golden),
            "c_custkey",
            "c_custkey",
            ["c_nationkey", "c_mktsegment"],
            fields,
            min_score=_W_MIN_SCORE,
        )
        w = Window.partitionBy("id_a").orderBy(
            F.desc("score"), F.asc("id_b")
        )
        best = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id_a", "id_b", "score")
        )
        return batch.select("c_custkey").join(
            best, batch.c_custkey == best.id_a, "left"
        ).select(
            "c_custkey",
            F.coalesce(F.col("id_b"), F.col("c_custkey")).alias("entity_id"),
            F.col("id_b").isNotNull().alias("matched"),
            "score",
        )


_register_incremental_resolution()


# ---------------------------------------------------------------------------
# target-distribution corpus mixing (documents)
# ---------------------------------------------------------------------------

_TMIX_TARGETS = {"en": 0.4, "fr": 0.15, "es": 0.15, "de": 0.15, "zh": 0.15}


def _register_mix_match_target() -> None:
    from .llm import _h32_sql

    case = " ".join(
        f"WHEN lang = '{g}' THEN {t}" for g, t in _TMIX_TARGETS.items()
    )
    h = _h32_sql("CAST(doc_id AS VARCHAR) || '#tmix'")

    @register(
        "mix_match_target_lang",
        oracle=f"""
        WITH counts AS (SELECT lang, COUNT(*) AS n_docs
                        FROM documents GROUP BY lang),
        t AS (SELECT lang, n_docs, CASE {case} END AS target_frac
              FROM counts),
        c AS (SELECT MIN(CAST(n_docs AS DOUBLE) / target_frac) AS c
              FROM t WHERE target_frac IS NOT NULL),
        rates AS (SELECT lang,
                         CASE WHEN target_frac IS NOT NULL
                              THEN round(least(1.0, (c.c * target_frac)
                                   / CAST(n_docs AS DOUBLE)), 6)
                              ELSE 0.0 END AS rate
                  FROM t, c),
        labeled AS (SELECT d.doc_id, d.lang, r.rate
                    FROM documents d JOIN rates r ON d.lang = r.lang)
        SELECT lang, COUNT(*) AS n_docs, MAX(rate) AS rate,
               CAST(SUM(CAST({h} < CAST(FLOOR(rate * 4294967296.0) AS BIGINT)
                        AS BIGINT)) AS BIGINT) AS n_kept
        FROM labeled GROUP BY lang
        """,
        doc="Target-distribution corpus mixing "
        "(operators/sampling.py::match_target_rates): per-language keep "
        "rates reshaping the corpus to a target mix (en 40 / others 15) "
        "by DOWNSAMPLING only — c = min_g(n_g/target_g), rate_g = "
        "c*target_g/n_g, binding group keeps everything; applied as the "
        "deterministic hash filter (sample_by_weight's floor-threshold "
        "convention), so kept sets reproduce cross-engine. Rate "
        "computation is one grouped count + a scalar min, all "
        "broadcast-sized; the keep filter is a pure row expression that "
        "pushes down.",
    )
    def mix_match_target_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators.sampling import (
            HASH_SPACE_32,
            _rate_hash,
            match_target_rates,
        )

        docs = load_table(spark, sf_dir, "documents")
        rates = match_target_rates(docs, "lang", _TMIX_TARGETS).select(
            "lang", "rate"
        )
        labeled = docs.select("doc_id", "lang").join(
            F.broadcast(rates), "lang"
        )
        kept = _rate_hash("doc_id", "tmix") < F.floor(
            F.col("rate") * F.lit(float(HASH_SPACE_32))
        ).cast("long")
        return labeled.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("rate").alias("rate"),
            F.sum(kept.cast("long")).alias("n_kept"),
        )


_register_mix_match_target()


# ---------------------------------------------------------------------------
# hybrid retrieval fusion (documents + embeddings)
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_LIST_K = 50
_RRF_TOPK = 10
_RRF_QUERY_VEC = 0  # doc/vec ids are aligned in the fixtures


def _register_hybrid_rrf() -> None:
    from .llm3 import BM25_B, BM25_K1, BM25_TERMS, _bm25_oracle

    @register(
        "hybrid_rrf_topk",
        oracle=f"""
        WITH bm AS ({_bm25_oracle(BM25_TERMS, _RRF_LIST_K, BM25_K1, BM25_B)}),
        cosq AS (
          WITH e AS (SELECT vec_id, embedding FROM embeddings),
          norms AS (SELECT vec_id, sqrt(s) AS nrm FROM
                      (SELECT vec_id, SUM(x * x) AS s FROM
                         (SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e)
                       GROUP BY vec_id)),
          dots AS (SELECT c_id, SUM(qx * cx) AS dot FROM
                     (SELECT c.vec_id AS c_id,
                             unnest(q.embedding)::DOUBLE AS qx,
                             unnest(c.embedding)::DOUBLE AS cx
                      FROM e q JOIN e c ON c.vec_id <> q.vec_id
                      WHERE q.vec_id = {_RRF_QUERY_VEC})
                   GROUP BY c_id),
          scored AS (SELECT c_id AS doc_id,
                            round(dot / (nq.nrm * nc.nrm), 6) AS cosine
                     FROM dots
                     JOIN norms nq ON nq.vec_id = {_RRF_QUERY_VEC}
                     JOIN norms nc ON nc.vec_id = c_id)
          SELECT doc_id, rn AS cos_rank FROM
            (SELECT doc_id, row_number() OVER
                     (ORDER BY cosine DESC, doc_id) AS rn
             FROM scored)
          WHERE rn <= {_RRF_LIST_K}
        ),
        f AS (
          SELECT COALESCE(bm.doc_id, cosq.doc_id) AS doc_id,
                 round(COALESCE(1.0 / ({_RRF_K}.0 + bm."rank"), 0.0)
                     + COALESCE(1.0 / ({_RRF_K}.0 + cosq.cos_rank), 0.0), 6)
                   AS rrf_score,
                 bm."rank" AS bm25_rank,
                 cosq.cos_rank AS cos_rank
          FROM bm FULL OUTER JOIN cosq ON bm.doc_id = cosq.doc_id
        )
        SELECT doc_id, rrf_score, bm25_rank, cos_rank FROM
          (SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rn
           FROM f)
        WHERE rn <= {_RRF_TOPK}
        """,
        doc="Hybrid retrieval via reciprocal-rank fusion "
        "(operators/similarity.py::rrf_fuse): the sparse BM25 top-50 "
        "(fixed query terms) fused with the dense cosine top-50 for the "
        "aligned query vector — score = sum of 1/(60+rank) with missing "
        "ranks contributing 0, the calibration-free way to combine "
        "keyword and embedding retrieval. Fusion runs over bounded "
        "top-k lists (outer join of 50+50 rows); each retrieval keeps "
        "its own scale path (BM25: scalar corpus stats broadcast; "
        "dense: the ANN/IVF siblings).",
    )
    def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        from ..operators.similarity import cosine_topk, rrf_fuse
        from ..operators.text_analysis import bm25_rank

        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        sparse = bm25_rank(
            docs, BM25_TERMS, k=_RRF_LIST_K, k1=BM25_K1, b=BM25_B
        ).select("doc_id", "rank")
        dense = (
            cosine_topk(
                emb,
                emb.filter(F.col("vec_id") == _RRF_QUERY_VEC),
                k=_RRF_LIST_K,
            )
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.orderBy(F.desc("cosine"), F.asc("neighbor_id"))
                ),
            )
            .select(F.col("neighbor_id").alias("doc_id"), "rank")
        )
        return rrf_fuse(
            [(sparse, "bm25_rank"), (dense, "cos_rank")],
            k_const=_RRF_K,
            topk=_RRF_TOPK,
        )


_register_hybrid_rrf()


# ---------------------------------------------------------------------------
# trainable quality classifier (documents)
# ---------------------------------------------------------------------------

# Single source of truth for the feature/label expressions: the SAME SQL
# text runs as Spark selectExpr and inside the DuckDB oracle (length/
# replace/least/greatest/CASE are identical in both dialects), so the
# per-row doubles are bit-identical by construction. All features are
# rational functions of character counts — no transcendentals (see
# operators/classifier.py module doc for why that makes training exact).
_CLS_LABEL_SQL = (
    "CAST(CASE WHEN (length(text) - length(replace(text, ' ', ''))) + 1 >= 60"
    " AND (length(text) - length(replace(text, ' the ', ''))) >= 5"
    " THEN 1.0 ELSE 0.0 END AS DOUBLE)"
)
_CLS_FEATURE_SQL = {
    # doc length, clamped + scaled to O(1)
    "x_len": (
        "CAST(least(CAST(length(text) AS DOUBLE), 1000.0) / 500.0 AS DOUBLE)"
    ),
    # ' the ' occurrences per word (x20 scale): the English-function-word rate
    "x_the": (
        "CAST(CAST(length(text) - length(replace(text, ' the ', '')) AS DOUBLE) * 4.0"
        " / (CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) + 1.0)"
        " AS DOUBLE)"
    ),
    # letter-'e' frequency (x10 scale)
    "x_evowel": (
        "CAST(CAST(length(text) - length(replace(text, 'e', '')) AS DOUBLE) * 10.0"
        " / greatest(CAST(length(text) AS DOUBLE), 1.0) AS DOUBLE)"
    ),
    # mean word length (/10 scale)
    "x_wordlen": (
        "CAST(CAST(length(text) AS DOUBLE)"
        " / ((CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) + 1.0)"
        " * 10.0) AS DOUBLE)"
    ),
}
_CLS_FEATURES = list(_CLS_FEATURE_SQL)
_CLS_STEPS = 3
_CLS_LR = "8.0"  # binary-exact float: 8.0 == 2^3


def _cls_feats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        f"{_CLS_LABEL_SQL} AS y",
        *[f"{sql} AS {name}" for name, sql in _CLS_FEATURE_SQL.items()],
    )


def _cls_feats_cte() -> str:
    cols = ", ".join(
        [f"{_CLS_LABEL_SQL} AS y"]
        + [f"{sql} AS {name}" for name, sql in _CLS_FEATURE_SQL.items()]
    )
    return f"SELECT {cols} FROM documents"


def _cls_train_ctes(steps: int = _CLS_STEPS, recursive: bool = False) -> str:
    """Unroll the GD iterations as CTEs — the EXACT arithmetic of
    operators/classifier.py::logistic_train_hard_sigmoid (association
    order pinned on both sides; see that module's docstring).

    ``recursive=True`` emits ``WITH RECURSIVE`` for callers that append
    a recursive CTE (curation_pipeline_v3's closure) — an explicit flag,
    not post-hoc ``.replace('WITH ', ...)`` string surgery, which would
    corrupt the SQL if a feature expression ever contained 'WITH '."""
    d = len(_CLS_FEATURES)
    xs = ["1.0"] + _CLS_FEATURES
    feat_list = ", ".join(_CLS_FEATURES)
    parts = [
        f"feats AS ({_cls_feats_cte()})",
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0.0 AS DOUBLE) AS w{j}" for j in range(d + 1))
        + ")",
    ]
    for i in range(1, steps + 1):
        prev = f"w{i - 1}"
        z = " + ".join(
            [f"{prev}.w0"]
            + [f"{prev}.w{j + 1} * {c}" for j, c in enumerate(_CLS_FEATURES)]
        )
        sums = ", ".join(
            "SUM(CAST(round(CASE WHEN z > -2.0 AND z < 2.0"
            f" THEN (((p - y) * 0.25) * {x}) ELSE 0.0 END, 9)"
            f" AS DECIMAL(28,9))) AS s{j}"
            for j, x in enumerate(xs)
        )
        parts.append(
            f"g{i} AS (SELECT COUNT(*) AS n, {sums} FROM ("
            f"SELECT y, {feat_list}, z,"
            " greatest(0.0, least(1.0, 0.25 * z + 0.5)) AS p FROM ("
            f"SELECT y, {feat_list}, ({z}) AS z FROM feats, {prev})))"
        )
        upd = ", ".join(
            f"{prev}.w{j} - {_CLS_LR} * (CAST(g{i}.s{j} AS DOUBLE) / g{i}.n) AS w{j}"
            for j in range(d + 1)
        )
        parts.append(f"w{i} AS (SELECT {upd} FROM g{i}, {prev})")
    prefix = "WITH RECURSIVE " if recursive else "WITH "
    return prefix + ",\n".join(parts)


_CLS_WEIGHT_CACHE: dict[tuple[str, int, int], list[float]] = {}


def _cls_cache_key(sf_dir: str) -> tuple[str, int, int]:
    # key on the fixture file's (mtime_ns, size) as well as the path:
    # a regenerated documents.parquet at the same path must retrain, or
    # the memoized Spark weights silently desynchronize from the oracle
    # (which always retrains from the file)
    import os

    p = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(p)
        return (sf_dir, st.st_mtime_ns, st.st_size)
    except OSError:
        return (sf_dir, 0, 0)


def _cls_trained_weights(spark: SparkSession, sf_dir: str) -> list[float]:
    """Training is deterministic in the data alone (exact decimal
    gradients), so weights memoize per fixture fingerprint — the train
    and confusion queries would otherwise each run the 3 training
    scans."""
    key = _cls_cache_key(sf_dir)
    cached = _CLS_WEIGHT_CACHE.get(key)
    if cached is not None:
        return cached
    from ..operators.classifier import logistic_train_hard_sigmoid

    w = logistic_train_hard_sigmoid(
        _cls_feats_df(spark, sf_dir),
        _CLS_FEATURES,
        label_col="y",
        steps=_CLS_STEPS,
        lr=float(_CLS_LR),
    )
    _CLS_WEIGHT_CACHE[key] = w
    return w


_CLS_WEIGHT_NAMES = ["bias"] + _CLS_FEATURES


@register(
    "quality_classifier_train_k3",
    oracle=_cls_train_ctes()
    + "\n"
    + " UNION ALL ".join(
        f"SELECT '{name}' AS feature, round(w{j}, 9) AS weight FROM w{_CLS_STEPS}"
        for j, name in enumerate(_CLS_WEIGHT_NAMES)
    ),
    doc="Trainable quality classifier, TRAIN half "
    "(operators/classifier.py::logistic_train_hard_sigmoid): 3 steps of "
    "full-batch GD with the hard-sigmoid link over weak-supervision "
    "labels (>=60 words AND contains ' the ') and 4 rational character-"
    "count features. All-rational arithmetic + per-row-rounded decimal "
    "gradient sums make the learned weights order-independent AND "
    "engine-exact — the oracle unrolls the identical 3 iterations as "
    "CTEs. Each step is one scan with a partial-aggregatable (d+1)-sum; "
    "the driver holds only d+1 scalars between steps.",
)
def quality_classifier_train_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _cls_trained_weights(spark, sf_dir)
    rows = list(zip(_CLS_WEIGHT_NAMES, w))
    return driver_frame(
        spark, rows, "feature string, weight double"
    ).withColumn("weight", F.round("weight", 9))


@register(
    "quality_classifier_confusion_k3",
    oracle=_cls_train_ctes()
    + f""",
    scored AS (
      SELECT y,
             greatest(0.0, least(1.0, 0.25 * (w{_CLS_STEPS}.w0 + """
    + " + ".join(
        f"w{_CLS_STEPS}.w{j + 1} * {c}" for j, c in enumerate(_CLS_FEATURES)
    )
    + f""") + 0.5)) AS score
      FROM feats, w{_CLS_STEPS}
    )
    SELECT CAST(y AS INT) AS y_true, score >= 0.5 AS pred,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(round(score, 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_score
    FROM scored GROUP BY 1, 2
    """,
    doc="Trainable quality classifier, SCORE half "
    "(operators/classifier.py::score): the corpus scored under the "
    "3-step trained weights, reported as a confusion matrix (true label "
    "x thresholded prediction) with per-cell mean score. Scoring is one "
    "zero-shuffle codegen projection; the trained weights ride as plan "
    "literals. The oracle re-derives the weights through the same "
    "unrolled CTEs, so train and score can never desynchronize.",
)
def quality_classifier_confusion_k3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.classifier import score

    w = _cls_trained_weights(spark, sf_dir)
    feats = _cls_feats_df(spark, sf_dir)
    scored = feats.withColumn("score", score(w, _CLS_FEATURES))
    return (
        scored.groupBy(
            F.col("y").cast("int").alias("y_true"),
            (F.col("score") >= F.lit(0.5)).alias("pred"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.round("score", 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_score"),
        )
    )


@register(
    "quality_classifier_calibration_k3",
    oracle=_cls_train_ctes()
    + f""",
    scored AS (
      SELECT y,
             greatest(0.0, least(1.0, 0.25 * (w{_CLS_STEPS}.w0 + """
    + " + ".join(
        f"w{_CLS_STEPS}.w{j + 1} * {c}" for j, c in enumerate(_CLS_FEATURES)
    )
    + f""") + 0.5)) AS score
      FROM feats, w{_CLS_STEPS}
    )
    SELECT CAST(least(FLOOR(score * 10.0), 9.0) AS INT) AS bin,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(round(score, 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_score,
           ROUND(CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS frac_pos
    FROM scored GROUP BY 1
    """,
    doc="Classifier CALIBRATION (reliability diagram data): scores "
    "bucketed into 10 bins, each with its mean score and empirical "
    "positive rate — a calibrated classifier has mean_score ~= frac_pos "
    "per bin; the gap is the thresholding risk a curation pipeline "
    "takes when it keeps docs above a score cut. One zero-shuffle "
    "scoring projection + one 10-key groupBy; weights come from the "
    "shared per-fixture training cache and the oracle re-derives them "
    "through the same unrolled CTEs.",
)
def quality_classifier_calibration_k3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.classifier import score

    w = _cls_trained_weights(spark, sf_dir)
    feats = _cls_feats_df(spark, sf_dir)
    scored = feats.withColumn("score", score(w, _CLS_FEATURES))
    return (
        scored.groupBy(
            F.least(F.floor(F.col("score") * F.lit(10.0)), F.lit(9).cast("bigint"))
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.round("score", 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum(F.col("y").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("frac_pos"),
        )
    )


_register_curation_v3()
