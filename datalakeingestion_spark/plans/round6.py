"""Round-6 plans: time-sliced distribution drift.

``ks_drift_by_source`` screens one static split (source vs corpus) over
the small integer ``n_chars`` domain, where a |sources| x |domain| value
grid is metadata-sized. The time-sliced variant answers the production
question — WHEN did a feed drift? — over the CONTINUOUS ``events.value``
domain, where a slice x domain grid would be data-squared. The exact-KS
trick that avoids it: each (event_type, week) slice is a SUBSET of its
type's all-time reference sample, so the KS sup is attained at the
slice's own observed points, checked both at the jump (inclusive CDFs)
and just before it (exclusive CDFs). That needs only two keyed running
sums + one equi-join on (type, value) — O(n) rows end to end, no grid.

Both running sums use ``operators/packing.py::keyed_prefix_sum`` (the
two-pass range-shuffle prefix sum) instead of a keyed window: a window
``PARTITION BY event_type`` puts one whole type — a third of a 100 TB
event log — into a single task. The oracle states the same semantics in
ANSI window form, which is the reference shape, not the execution shape.

Same determinism contract as every plan module: week buckets are integer
epoch math (timezone-independent, no to_date()), CDF ratios divide exact
bigint counts, and the sup takes MAX of 6-dp-rounded doubles.

Reference pendant: none — greenfield training-pipeline operator
(SURVEY.md §2 beyond-reference set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.buckets import epoch_bucket
from ..operators.packing import keyed_prefix_sum
from ..sources.fixtures import load_table
from .registry import register

# floor-division week bucket via functions.buckets.epoch_bucket (NOT
# `div`, which truncates toward zero and would disagree with the
# oracle's `//` floor for pre-1970 negative-epoch timestamps);
# floor(floor(x/86400)/7) == floor(x/604800)
_WEEK_SQL = "CAST(floor(epoch(ts)) AS BIGINT) // 86400 // 7"
_WEEK_SECONDS = 604800


@register(
    "ks_drift_time_sliced",
    oracle=f"""
    WITH pts AS (SELECT event_type, {_WEEK_SQL} AS wk, value AS v
                 FROM events WHERE value IS NOT NULL),
    sh AS (SELECT event_type, wk, v, COUNT(*) AS c
           FROM pts GROUP BY 1, 2, 3),
    rh AS (SELECT event_type, v, SUM(c) AS rc FROM sh GROUP BY 1, 2),
    rcum AS (SELECT event_type, v, rc,
                    SUM(rc) OVER (PARTITION BY event_type ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS rcum
             FROM rh),
    scum AS (SELECT event_type, wk, v, c,
                    SUM(c) OVER (PARTITION BY event_type, wk ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS scum
             FROM sh),
    nr AS (SELECT event_type, SUM(rc) AS n_r FROM rh GROUP BY 1),
    ns AS (SELECT event_type, wk, SUM(c) AS n_s FROM sh GROUP BY 1, 2)
    SELECT s.event_type, s.wk AS week,
           MAX(ns.n_s)::BIGINT AS n_events,
           MAX(round(GREATEST(
               abs(s.scum / ns.n_s::DOUBLE - r.rcum / nr.n_r::DOUBLE),
               abs((s.scum - s.c) / ns.n_s::DOUBLE
                   - (r.rcum - r.rc) / nr.n_r::DOUBLE)
           ), 6)) AS ks_distance
    FROM scum s
    JOIN rcum r ON r.event_type = s.event_type AND r.v = s.v
    JOIN ns ON ns.event_type = s.event_type AND ns.wk = s.wk
    JOIN nr ON nr.event_type = s.event_type
    GROUP BY 1, 2
    """,
    doc="EXACT two-sample KS distance of each (event_type, epoch-week) "
    "slice's value distribution vs the type's all-time distribution — "
    "the drift MATRIX that localizes ks_drift_by_source's single "
    "static screen in time, over a continuous domain where the grid "
    "approach is data-squared. Slice points are a subset of the "
    "reference sample, so the sup needs only the two CDFs at the "
    "slice's own points (at and just before each jump): two keyed "
    "prefix sums + one (type, value) equi-join, O(n) rows total. Both "
    "cumsums run through keyed_prefix_sum, never a per-type window "
    "(one type = one task at scale).",
)
def ks_drift_time_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    pts = ev.select(
        "event_type",
        epoch_bucket("ts", _WEEK_SECONDS).alias("wk"),
        F.col("value").alias("v"),
    )
    sh = pts.groupBy("event_type", "wk", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    # Intentional session-lifetime persist (lazy result; LRU-evictable)
    # — see dedup.lsh_candidate_report for the policy. sh feeds the
    # reference histogram, both prefix sums, and both size frames.
    sh = sh.persist()
    rh = sh.groupBy("event_type", "v").agg(F.sum("c").alias("rc"))
    rcum = keyed_prefix_sum(
        rh, ["event_type"], ["v"], "rc", out_col="rcum"
    )
    scum = keyed_prefix_sum(
        sh, ["event_type", "wk"], ["v"], "c", out_col="scum"
    )
    nr = rh.groupBy("event_type").agg(
        F.sum("rc").cast("double").alias("n_r")
    )
    ns = sh.groupBy("event_type", "wk").agg(
        F.sum("c").cast("double").alias("n_s")
    )
    j = (
        scum.join(rcum.select("event_type", "v", "rc", "rcum"),
                  ["event_type", "v"])
        .join(F.broadcast(ns), ["event_type", "wk"])
        .join(F.broadcast(nr), ["event_type"])
    )
    d = F.round(
        F.greatest(
            F.abs(
                F.col("scum") / F.col("n_s")
                - F.col("rcum") / F.col("n_r")
            ),
            F.abs(
                (F.col("scum") - F.col("c")) / F.col("n_s")
                - (F.col("rcum") - F.col("rc")) / F.col("n_r")
            ),
        ),
        6,
    )
    return (
        j.groupBy("event_type", F.col("wk").alias("week"))
        .agg(
            F.max("n_s").cast("long").alias("n_events"),
            F.max(d).alias("ks_distance"),
        )
    )


@register(
    "price_percentile_rank",
    oracle="""
    WITH h AS (SELECT l_returnflag, l_extendedprice AS price, COUNT(*) AS c
               FROM lineitem GROUP BY 1, 2),
    cum AS (SELECT l_returnflag, price, c,
                   SUM(c) OVER (PARTITION BY l_returnflag ORDER BY price
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM h),
    t AS (SELECT l_returnflag, SUM(c) AS n FROM h GROUP BY 1)
    SELECT cum.l_returnflag, cum.price, cum.c::BIGINT AS n_rows,
           round(cum.cum / t.n::DOUBLE, 6) AS pct
    FROM cum JOIN t USING (l_returnflag)
    """,
    doc="EXACT cumulative percentile rank (cume_dist) of every distinct "
    "extended price within its return flag — a continuous ~unique "
    "domain over THREE keys, i.e. precisely the shape where the window "
    "form collapses to three tasks each sorting and holding a third of "
    "the table. The Spark side runs the per-(flag, price) histogram "
    "through keyed_prefix_sum (range-bucketed two-pass JVM prefix sum, "
    "tools/scale_probe_r6.py @ c2bc8cd) and divides by broadcast per-flag "
    "totals; the window-form oracle states the semantics.",
)
def price_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    h = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.count(F.lit(1)).alias("c"))
    cum = keyed_prefix_sum(
        h, ["l_returnflag"], ["price"], "c", out_col="cum"
    )
    t = h.groupBy("l_returnflag").agg(
        F.sum("c").cast("double").alias("n")
    )
    return (
        cum.join(F.broadcast(t), ["l_returnflag"])
        .select(
            "l_returnflag",
            "price",
            F.col("c").cast("long").alias("n_rows"),
            F.round(F.col("cum") / F.col("n"), 6).alias("pct"),
        )
    )


def _events_with_first2wk_reference(spark: SparkSession, sf_dir: str):
    """Shared setup for the drift monitors: non-null event values plus
    the first-two-epoch-weeks reference histogram on the common
    [0, 500) x 10-bin grid. ONE definition so both monitors always
    compare against the same reference. Empty/all-NULL events make w0
    None — fall back to 0 (everything downstream is empty anyway,
    matching the oracles' empty result sets)."""
    from ..streaming.drift import reference_histogram

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    # floor division (pre-1970-safe), matching the oracle's `//`
    wk = epoch_bucket("ts", _WEEK_SECONDS)
    w0 = ev.agg(F.min(wk).alias("w")).first()["w"]
    ref = reference_histogram(
        ev.filter(wk < F.lit((w0 or 0) + 2)), "value", lo=0.0, hi=500.0
    )
    return ev, ref


@register(
    "psi_drift_windowed",
    oracle="""
    WITH pts AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, value AS v
                 FROM events WHERE value IS NOT NULL),
    m AS (SELECT MIN(es // 604800) AS w0 FROM pts),
    binned AS (SELECT (es // 604800) * 604800 AS window_start_s,
                      es // 604800 AS wk,
                      CASE WHEN v < 0.0 THEN 0
                           WHEN v >= 500.0 THEN 11
                           ELSE CAST(floor((v - 0.0) / 500.0 * 10) AS INT) + 1
                      END AS bin
               FROM pts),
    ref AS (SELECT g.bin,
                   COALESCE(r.n_ref, 0)::BIGINT AS n_ref
            FROM (SELECT unnest(range(0, 12)) AS bin) g
            LEFT JOIN (SELECT b.bin, COUNT(*) AS n_ref
                       FROM binned b CROSS JOIN m
                       WHERE b.wk < m.w0 + 2 GROUP BY 1) r
              ON r.bin = g.bin),
    tref AS (SELECT SUM(n_ref) AS t_ref FROM ref),
    win AS (SELECT window_start_s, bin, COUNT(*) AS c
            FROM binned GROUP BY 1, 2),
    wins AS (SELECT DISTINCT window_start_s FROM binned),
    grid AS (SELECT w.window_start_s, g.bin
             FROM wins w CROSS JOIN (SELECT unnest(range(0, 12)) AS bin) g),
    counts AS (SELECT grid.window_start_s, grid.bin,
                      COALESCE(win.c, 0)::BIGINT AS n_win
               FROM grid LEFT JOIN win
                 ON win.window_start_s = grid.window_start_s
                AND win.bin = grid.bin),
    twin AS (SELECT window_start_s, SUM(n_win) AS t_win
             FROM counts GROUP BY 1)
    SELECT c.window_start_s, c.bin, ref.n_ref, c.n_win,
           round(((ref.n_ref + 0.5) / (tref.t_ref + 0.5 * 12.0)
                  - (c.n_win + 0.5) / (twin.t_win + 0.5 * 12.0))
                 * ln(((ref.n_ref + 0.5) / (tref.t_ref + 0.5 * 12.0))
                      / ((c.n_win + 0.5) / (twin.t_win + 0.5 * 12.0))),
                 6) AS psi_contrib
    FROM counts c
    JOIN ref ON ref.bin = c.bin
    JOIN twin ON twin.window_start_s = c.window_start_s
    CROSS JOIN tref
    """,
    doc="Per-epoch-week PSI of the event value distribution against the "
    "first-two-weeks training reference — the BATCH TWIN of "
    "streaming/drift.py::windowed_psi_drift (identical fixed 10-bin "
    "grid + gutters, add-0.5 smoothing; F.window('7 days') boundaries "
    "ARE epoch-week boundaries, so the oracle states them as integer "
    "epoch math). One stateful-agg-shaped window histogram (all bins "
    "as conditional sums in ONE groupBy — the append-mode streaming "
    "constraint) + stateless broadcast-reference PSI tail; the "
    "streaming test pins exact stream/batch agreement.",
)
def psi_drift_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.drift import windowed_psi_drift

    ev, ref = _events_with_first2wk_reference(spark, sf_dir)
    return windowed_psi_drift(
        ev, ref, "value", ts_col="ts", lo=0.0, hi=500.0, window="7 days"
    )


# Constant container bytes for a 2-frame 4x2 24-bit BI_RGB AVI at
# 40000 us/frame (stride 12 = no row padding, chunk sizes even = no pad
# bytes), computed once from multimodal.encode_avi_rgb24. Only the two
# 24-byte frame rasters vary, so the blob is a 4-part concat in-plan.
_AVI_PREFIX_HEX = (
    "5249464618010000415649204c495354c00000006864726c6176696838000000"
    "409c000000000000000000000000000002000000000000000100000000000000"
    "0400000002000000000000000000000000000000000000004c49535474000000"
    "7374726c73747268380000007669647344494220000000000000000000000000"
    "409c000040420f000000000002000000000000000000000000000000000000000"
    "0000000737472662800000028000000040000000200000001001800000000001"
    "8000000000000000000000000000000000000004c495354440000006d6f7669"
)
_AVI_FRAME_HDR_HEX = "3030646218000000"  # '00db' + u32(24)


@register(
    "video_avi_channel_stats",
    # frame raster byte i (1-based, i <= 48 across both 24-byte frames)
    # is text byte i; DIB rows are BGR, so channel = (i-1)%3 maps
    # 0=B, 1=G, 2=R. 16 pixels total (4x2 x 2 frames); exact integer
    # HALF-UP at 6 dp, same contract as image_ppm_pixel_stats.
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, text
               FROM documents WHERE len(text) >= 48),
    b AS (SELECT media_id, unnest(range(1, 49)) AS i, text FROM m),
    v AS (SELECT media_id, CAST((i - 1) % 3 AS INT) AS ch,
                 ord(substr(text, CAST(i AS INT), 1)) AS val
          FROM b)
    SELECT media_id,
           'avi' AS format,
           4 AS width,
           2 AS height,
           2 AS n_frames,
           40000::BIGINT AS micros_per_frame,
           16::BIGINT AS n_pixels,
           CAST((SUM(CASE WHEN ch = 2 THEN val END) * 2000000 + 16)
                // 32 AS DOUBLE) / 1000000.0 AS mean_r,
           CAST((SUM(CASE WHEN ch = 1 THEN val END) * 2000000 + 16)
                // 32 AS DOUBLE) / 1000000.0 AS mean_g,
           CAST((SUM(CASE WHEN ch = 0 THEN val END) * 2000000 + 16)
                // 32 AS DOUBLE) / 1000000.0 AS mean_b
    FROM v GROUP BY media_id
    """,
    doc="REAL video decode, exactly oracle-checked: documents' ASCII "
    "bytes are packaged as uncompressed 2-frame AVI blobs in-plan "
    "(constant RIFF/hdrl/movi container + the text as the two DIB "
    "rasters), decoded by the pure-parser codec "
    "(operators/multimodal.py::decode_video — RIFF chunk walk, 24-bit "
    "BI_RGB '00db' frames, the same raster math as the BMP branch) and "
    "reduced to geometry + frame interval + exact per-channel means "
    "over all frames (multimodal.py::video_stats). Closes the last "
    "multimodal codec seam: audio (PCM16), image (NetPBM/BMP24), and "
    "video (AVI) all decode for real, with ffmpeg documented as the "
    "compressed-codec plug-in point.",
)
def video_avi_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import video_stats

    docs = load_table(spark, sf_dir, "documents")
    media = docs.filter(F.length("text") >= 48).select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.unhex(F.lit(_AVI_PREFIX_HEX + _AVI_FRAME_HDR_HEX)),
            F.encode(F.expr("substring(text, 1, 24)"), "UTF-8"),
            F.unhex(F.lit(_AVI_FRAME_HDR_HEX)),
            F.encode(F.expr("substring(text, 25, 24)"), "UTF-8"),
        ).alias("content"),
    )
    return video_stats(media).select(
        "media_id",
        "format",
        "width",
        "height",
        "n_frames",
        "micros_per_frame",
        "n_pixels",
        "mean_r",
        "mean_g",
        "mean_b",
    )


@register(
    "ks_drift_windowed_grid",
    oracle="""
    WITH pts AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, value AS v
                 FROM events WHERE value IS NOT NULL),
    m AS (SELECT MIN(es // 604800) AS w0 FROM pts),
    binned AS (SELECT (es // 604800) * 604800 AS ws, es // 604800 AS wk,
                      CASE WHEN v < 0.0 THEN 0
                           WHEN v >= 500.0 THEN 11
                           ELSE CAST(floor(v / 500.0 * 10) AS INT) + 1
                      END AS bin
               FROM pts),
    refc AS (SELECT bin, COUNT(*) AS c
             FROM binned CROSS JOIN m WHERE wk < m.w0 + 2 GROUP BY 1),
    tref AS (SELECT SUM(c) AS t FROM refc),
    winc AS (SELECT ws, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
    twin AS (SELECT ws, SUM(c) AS t FROM winc GROUP BY 1),
    edges AS (SELECT unnest(range(1, 12)) AS k),
    wcum AS (SELECT w.ws, e.k, COALESCE(SUM(winc.c), 0) AS cum
             FROM (SELECT DISTINCT ws FROM winc) w
             CROSS JOIN edges e
             LEFT JOIN winc ON winc.ws = w.ws AND winc.bin < e.k
             GROUP BY w.ws, e.k),
    rcum AS (SELECT e.k, COALESCE(SUM(refc.c), 0) AS cum
             FROM edges e LEFT JOIN refc ON refc.bin < e.k GROUP BY e.k)
    SELECT wcum.ws AS window_start_s,
           MAX(twin.t)::BIGINT AS n_events,
           MAX(round(abs(wcum.cum / twin.t::DOUBLE
                         - rcum.cum / tref.t::DOUBLE), 6)) AS ks_grid
    FROM wcum
    JOIN rcum USING (k)
    JOIN twin ON twin.ws = wcum.ws
    CROSS JOIN tref
    GROUP BY wcum.ws
    """,
    doc="Per-epoch-week GRID-RESTRICTED KS distance of the event value "
    "distribution vs the first-two-weeks reference — the bounded-state "
    "batch twin of streaming/drift.py::windowed_ks_grid (same "
    "histogram_bin grid as the PSI monitor; |F_win - F_ref| evaluated "
    "at the 11 internal bin edges, 6-dp rounded per edge, max). "
    "Lower-bounds true KS with error <= the reference's largest bin "
    "mass; the streaming tail is array arithmetic "
    "(transform/zip_with/array_max), deliberately no window functions, "
    "so the SAME code runs on a watermarked stream.",
)
def ks_drift_windowed_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.drift import windowed_ks_grid

    ev, ref = _events_with_first2wk_reference(spark, sf_dir)
    return windowed_ks_grid(
        ev, ref, "value", ts_col="ts", lo=0.0, hi=500.0, window="7 days"
    )
