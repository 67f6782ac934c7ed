"""Round-3 additions: bucketed range joins, Count-Min sketch, grouping
sets, intersect — each with a DuckDB oracle.

The range-join queries demonstrate ``operators/rangejoin.py``: Spark
plans a pure range predicate as BroadcastNestedLoopJoin (quadratic), so
the operator rewrites it into an equi join on time buckets — the oracles
state the naive range-join semantics directly and must match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rangejoin import interval_join
from ..sources.fixtures import load_table
from ..utils import driver_frame
from .llm import TOKS_SQL
from .registry import register

US_5MIN = 5 * 60 * 1_000_000
US_1H = 3_600 * 1_000_000


@register(
    "range_join_error_context_5min",
    oracle="""
    SELECT a.event_id AS anchor_id, COUNT(*) AS n_ctx
    FROM events a JOIN events e
      ON epoch_us(e.ts) >= epoch_us(a.ts) - 300000000
     AND epoch_us(e.ts) <  epoch_us(a.ts)
    WHERE a.event_type = 'error'
    GROUP BY 1
    """,
    doc="Global (key-less) interval join: every event within the 5 minutes "
    "before each error, across ALL users — no equi key exists, so a naive "
    "join is a BroadcastNestedLoopJoin (O(|L|·|R|), plan-checked absent in "
    "tests/test_plans.py). operators/rangejoin.py buckets time so it runs "
    "as a shuffled equi join on the bucket: |L| + 2|R| rows moved, load "
    "spread over time buckets.",
)
def range_join_error_context_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    points = ev.select("event_id", F.unix_micros("ts").alias("pt_us"))
    anchors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("anchor_id"), F.unix_micros("ts").alias("a_us")
    )
    pairs = interval_join(
        points,
        anchors,
        left_point=F.col("pt_us"),
        right_start=F.col("a_us") - US_5MIN,
        right_end=F.col("a_us"),
        bucket_width_us=US_5MIN,
    )
    return pairs.groupBy("anchor_id").agg(F.count(F.lit(1)).alias("n_ctx"))


@register(
    "range_join_signup_followups_1h",
    oracle="""
    SELECT s.event_id AS anchor_id, e.event_id AS event_id, e.event_type
    FROM events s JOIN events e
      ON s.user_id = e.user_id
     AND epoch_us(e.ts) >= epoch_us(s.ts)
     AND epoch_us(e.ts) <  epoch_us(s.ts) + 3600000000
     AND e.event_id <> s.event_id
    WHERE s.event_type = 'signup'
    """,
    doc="Keyed interval join: each user's events in the hour after their "
    "signup events. The (user_id, bucket) composite shuffle key keeps a "
    "hot user from concentrating on one task — time itself spreads the "
    "skew (operators/rangejoin.py).",
)
def range_join_signup_followups_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    points = ev.select(
        "event_id", "event_type", "user_id", F.unix_micros("ts").alias("pt_us")
    )
    anchors = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("anchor_id"),
        F.col("user_id").alias("anchor_user"),
        F.unix_micros("ts").alias("a_us"),
    )
    pairs = interval_join(
        points,
        anchors,
        left_point=F.col("pt_us"),
        right_start=F.col("a_us"),
        right_end=F.col("a_us") + US_1H,
        bucket_width_us=US_1H,
        keys=[("user_id", "anchor_user")],
    )
    return pairs.filter(F.col("event_id") != F.col("anchor_id")).select(
        "anchor_id", "event_id", "event_type"
    )


_CMS_DEPTH = 3
_CMS_WIDTH = 1024
_CMS_PROBES = ("table", "key", "spark", "agg", "window", "fast", "row", "scan")


@register(
    "cms_term_frequency",
    oracle=f"""
    WITH tok AS (SELECT unnest({TOKS_SQL}) AS x FROM documents),
    ds AS (SELECT unnest([0, 1, 2]) AS d),
    cells AS (
      SELECT d,
             (('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || x), 1, 15))::BIGINT
              % {_CMS_WIDTH}) AS bucket,
             COUNT(*) AS cnt
      FROM tok, ds GROUP BY 1, 2),
    probes AS (SELECT unnest(['{"','".join(_CMS_PROBES)}']) AS term),
    pb AS (
      SELECT term, d,
             (('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || term), 1, 15))::BIGINT
              % {_CMS_WIDTH}) AS bucket
      FROM probes, ds)
    SELECT term, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_count
    FROM pb LEFT JOIN cells USING (d, bucket)
    GROUP BY term
    """,
    doc="Count-Min sketch term frequencies (operators/sketches.py): the "
    "sketch state is a fixed depth×width grid, so the shuffle is O(grid) "
    "regardless of corpus size — the scale path for 'how often does term "
    "X appear in 100 TB' when the term universe itself is too big to "
    "group. The salted md5 hash family makes even the approximate "
    "estimates bit-reproducible in DuckDB.",
)
def cms_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.sketches import cms_estimate, cms_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("x"))
    sketch = cms_sketch(toks, "x", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    probes = driver_frame(
        spark, [(t,) for t in _CMS_PROBES], "term string"
    )
    return cms_estimate(sketch, probes, "term", depth=_CMS_DEPTH, width=_CMS_WIDTH)


@register(
    "g6_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           (CASE WHEN GROUPING(o_orderstatus) = 1 THEN 2 ELSE 0 END
            + CASE WHEN GROUPING(o_orderpriority) = 1 THEN 1 ELSE 0 END) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="Explicit GROUPING SETS (the general form of g1's rollup / g4's "
    "cube) with a portable grouping id (bit per aggregated column, "
    "computed identically on both engines — Spark's grouping_id bit order "
    "is not assumed). Executes as one Expand + single aggregate exchange.",
)
def g6_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    gid = (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")).cast(
        "int"
    )
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_total")
    )


@register(
    "w7_event_gap_stats",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events)
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
           MAX(gap_us) AS max_gap_us,
           round(SUM(gap_us) / 1000000.0 / COUNT(gap_us), 6) AS avg_gap_s
    FROM g GROUP BY user_id
    """,
    doc="lag()-based inter-event gaps per user (W1 generalization — the "
    "reference has no lag/lead at all): one shuffle on user_id feeds both "
    "the window and the aggregate. Gap arithmetic in integral epoch-µs; "
    "the average is derived from the exact integer sum, so no float "
    "summation order can flip the oracle hash.",
)
def w7_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = (us - F.lag(us).over(w)).alias("gap_us")
    return (
        ev.select("user_id", gap)
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").alias("sum_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            F.round(
                F.sum("gap_us") / F.lit(1_000_000.0) / F.count("gap_us"), 6
            ).alias("avg_gap_s"),
        )
    )


@register(
    "d4_price_quantity_correlation",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                 * CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                 * CAST(l_extendedprice AS DECIMAL(14,4))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                 * CAST(l_extendedprice AS DECIMAL(14,4))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_qty_price
    FROM s
    """,
    doc="Grouped Pearson correlation from EXACT decimal moment sums "
    "(D-profile generalization): Spark's corr() aggregates doubles in "
    "partition order and cannot hash-match another engine; accumulating "
    "the five moments as decimals keeps the one-pass single-shuffle shape "
    "AND bit-reproducibility, converting to double only at the final "
    "scalar formula.",
)
def d4_price_quantity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # operand precisions stay TIGHT (quantity ≤ 1e8, price < 1e10) so the
    # moment products/sums never hit precision 38, where Spark rounds
    # (allowPrecisionLoss) but DuckDB overflows — the exact sums convert
    # to double only for the final scalar formula.
    # ONE operand of each product at width ≥ 19 forces DuckDB's multiply
    # off int64 storage (a (14,4)×(14,4) product overflows its DECIMAL(18)
    # physical type for prices > ~3e5) while keeping Spark's product
    # precision < 38 — no allowPrecisionLoss rounding on either engine.
    x = F.col("l_quantity").cast("decimal(12,4)")
    x19 = F.col("l_quantity").cast("decimal(19,4)")
    y = F.col("l_extendedprice").cast("decimal(14,4)")
    y19 = F.col("l_extendedprice").cast("decimal(19,4)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x19 * x).cast("double").alias("sxx"),
        F.sum(y19 * y).cast("double").alias("syy"),
        F.sum(x19 * y).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(num / den, 6).alias("corr_qty_price"),
    )


@register(
    "sketch_kmv_by_returnflag",
    oracle="""
    WITH h AS (
      SELECT l_returnflag,
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem)),
    r AS (SELECT l_returnflag, h,
                 row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
          FROM h),
    k AS (SELECT l_returnflag, COUNT(*) AS n_kept, MAX(h) AS kth_hash
          FROM r WHERE rn <= 256 GROUP BY 1)
    SELECT l_returnflag,
           CASE WHEN n_kept < 256 THEN n_kept
                ELSE CAST(round(255 / (kth_hash / 1152921504606846976.0)) AS BIGINT)
           END AS est_distinct
    FROM k
    """,
    doc="Grouped KMV distinct sketch (operators/sketches.py): approximate "
    "distinct l_partkey per returnflag with O(k) state per group — the "
    "deterministic, oracle-checkable twin of approx_count_distinct's "
    "grouped form. The rank-≤-k filter runs as WindowGroupLimit inside "
    "the sort, so no group's full hash set ever concentrates.",
)
def sketch_kmv_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_distinct_by_group

    li = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct_by_group(li, ["l_returnflag"], "l_partkey", k=256)


@register(
    "countsketch_term_frequency",
    oracle=f"""
    WITH tok AS (SELECT unnest({TOKS_SQL}) AS x FROM documents),
    ds AS (SELECT unnest([0, 1, 2, 3, 4]) AS d),
    cells AS (
      SELECT d,
             (('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || x), 1, 15))::BIGINT
              % {_CMS_WIDTH}) AS bucket,
             SUM(CASE WHEN ('0x' || substr(md5('s' || CAST(d AS VARCHAR) || ':' || x),
                            1, 15))::BIGINT % 2 = 0
                      THEN 1 ELSE -1 END) AS cnt
      FROM tok, ds GROUP BY 1, 2),
    probes AS (SELECT unnest(['{"','".join(_CMS_PROBES)}']) AS term),
    pb AS (
      SELECT term, d,
             (('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || term), 1, 15))::BIGINT
              % {_CMS_WIDTH}) AS bucket,
             CASE WHEN ('0x' || substr(md5('s' || CAST(d AS VARCHAR) || ':' || term),
                        1, 15))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sign
      FROM probes, ds),
    est AS (
      SELECT term, sign * COALESCE(cnt, 0) AS est
      FROM pb LEFT JOIN cells USING (d, bucket))
    SELECT term, CAST(quantile_cont(est, 0.5) AS BIGINT) AS est_count
    FROM est GROUP BY term
    """,
    doc="Count-Sketch term frequencies (operators/sketches.py): the "
    "UNBIASED sibling of cms_term_frequency — each occurrence adds a ±1 "
    "sign and the estimate is the exact-element median over 5 rows, so "
    "collision mass cancels in expectation instead of stacking as "
    "overcount. Same fixed-grid shuffle shape; same portable hash family "
    "so the approximate estimates still hash-match DuckDB.",
)
def countsketch_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.sketches import countsketch_estimate, countsketch_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("x"))
    sketch = countsketch_sketch(toks, "x", depth=5, width=_CMS_WIDTH)
    probes = driver_frame(
        spark, [(t,) for t in _CMS_PROBES], "term string"
    )
    return countsketch_estimate(sketch, probes, "term", depth=5, width=_CMS_WIDTH)


@register(
    "a8_approx_distinct_parts",
    # HLL++'s estimate is engine-specific, but its ERROR against the exact
    # distinct count is deterministic for fixed data — so the checkable
    # contract is (exact count, error-within-bound): the oracle computes
    # the exact count itself and asserts the bound. Measured error at
    # sf0.01: 0.95% per group; bound 5% (rsd 2% ⇒ ~2.5σ headroom).
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approx_count_distinct (HyperLogLog++, rsd 2%) per returnflag — "
    "the constant-state scale path beside the exact distinct (A5 shape) "
    "and the deterministic KMV sketch: HLL state is ~1.5 KB per group at "
    "2% rsd and merges map-side, where exact distinct shuffles every "
    "distinct value. Emits the exact count + error-bound verdict so the "
    "driver checks both; error also pinned in pytest.",
)
def a8_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct(F.col("l_partkey")).alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", rsd=0.02)
                - F.count_distinct(F.col("l_partkey"))
            )
            / F.count_distinct(F.col("l_partkey"))
            <= F.lit(0.05)
        ).alias("within_5pct"),
    )


@register(
    "g7_approx_percentiles",
    # approx_percentile's sketch is engine-specific, but its error vs the
    # exact quantile is deterministic for fixed data — emit the exact
    # quantiles (oracle-computable: quantile_cont ≡ Spark percentile) plus
    # an error-bound verdict. Measured relative error at sf0.01: ≤0.07%;
    # bound 1%.
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90_exact,
           TRUE AS within_1pct
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Approximate percentiles (approx_percentile, accuracy 10000): the "
    "scale path next to g3's exact percentile — bounded sketch state per "
    "group instead of a full sort, the right default once a group no "
    "longer fits an executor. Emits the exact quantiles + error-bound "
    "verdict so the driver checks both; error also pinned in "
    "tests/test_rangejoin.py::test_approx_percentiles_close_to_exact.",
)
def g7_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    p50e = F.percentile("o_totalprice", F.lit(0.5))
    p90e = F.percentile("o_totalprice", F.lit(0.9))
    a50 = F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000))
    a90 = F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000))
    return orders.groupBy("o_orderstatus").agg(
        F.round(p50e, 6).alias("p50_exact"),
        F.round(p90e, 6).alias("p90_exact"),
        (
            (F.abs(a50 - p50e) / p50e <= F.lit(0.01))
            & (F.abs(a90 - p90e) / p90e <= F.lit(0.01))
        ).alias("within_1pct"),
    )


@register(
    "sample_quality_weighted",
    oracle="""
    SELECT doc_id, source,
           round(least(n_chars / 400.0, 1.0), 6) AS keep_weight
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#qw'), 1, 8))::BIGINT
          < CAST(floor(least(n_chars / 400.0, 1.0) * 4294967296.0) AS BIGINT)
    """,
    doc="Importance sampling by per-row quality weight "
    "(operators/sampling.py::sample_by_weight): longer documents kept at "
    "higher probability, deterministic per doc_id so reruns/engines "
    "agree. Pure row filter — no shuffle, no RNG state, evaluated inside "
    "the scan stage's codegen (the hash predicate itself can't "
    "row-group-skip).",
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import sample_by_weight

    docs = load_table(spark, sf_dir, "documents")
    weight = F.least(F.col("n_chars") / F.lit(400.0), F.lit(1.0))
    kept = sample_by_weight(docs, weight, "doc_id", salt="qw")
    return kept.select(
        "doc_id", "source", F.round(weight, 6).alias("keep_weight")
    )


@register(
    "budget_cap_per_source",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source, len({TOKS_SQL}) AS n_tokens FROM documents),
    run AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running
      FROM sized)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM run WHERE running <= 800
    """,
    doc="Per-source token-budget cap "
    "(operators/sampling.py::cap_tokens_per_group): each source "
    "contributes its doc_id-ordered prefix up to 800 tokens — the shape "
    "a mixture spec ('at most N tokens of source k') compiles to. One "
    "keyed shuffle; the running sum is a per-group frame window, never a "
    "global one.",
)
def budget_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.sampling import cap_tokens_per_group

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return cap_tokens_per_group(
        sized, "source", "n_tokens", budget=800, order_cols=["doc_id"]
    )


@register(
    "assemble_sequences_512",
    oracle=f"""
    WITH t AS (SELECT doc_id, text,
                      CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, text, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_before
          FROM t)
    SELECT CAST(cum_before // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           md5(string_agg(text, '<|eos|>' ORDER BY doc_id)) AS seq_digest
    FROM c GROUP BY 1
    """,
    doc="The packing story completed: seq_id assignment (the distributed "
    "prefix sum of pack_sequences_512) followed by the per-sequence "
    "ordered document concatenation with an EOS separator — the actual "
    "training-sample assembly step. Spark's collect_list has no "
    "deterministic order, so docs are gathered as (doc_id, text) structs "
    "and array_sort'ed before joining; the oracle's string_agg ORDER BY "
    "is the SQL twin. Sequences are compared by md5 digest (the raw "
    "concatenation is row-explosion-sized).",
)
def assemble_sequences_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "text", F.size(tokens("text")).alias("n_tokens")
    )
    packed = pack_sequences(
        sized.select("doc_id", "n_tokens"), token_budget=512
    )
    joined = packed.join(docs.select("doc_id", "text"), "doc_id")
    gathered = joined.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.array_sort(
            F.collect_list(F.struct("doc_id", "text"))
        ).alias("_members"),
    )
    seq_text = F.array_join(
        F.transform(F.col("_members"), lambda m: m["text"]), "<|eos|>"
    )
    return gathered.select(
        "seq_id", "n_docs", "n_tokens", F.md5(seq_text).alias("seq_digest")
    )


@register(
    "u3_intersect_click_purchase_days",
    oracle="""
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE event_type = 'purchase'
    """,
    doc="INTERSECT (SURVEY.md §2.8 notes the reference has none): "
    "user-days with both a click and a purchase. Spark plans intersect as "
    "a left-semi join over distinct rows — one shuffle per side on the "
    "full grouping key.",
)
def u3_intersect_click_purchase_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", day)
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    return clicks.intersect(purchases)
