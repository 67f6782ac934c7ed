"""Document deduplication operators — exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Greenfield scale operators (no reference pendant; the reference's only
dedup is the latest-row-per-key view, covered by
``relational.latest_rows``). Design targets:

- **Exact** — one hash-groupBy; at 100 TB this is a single shuffle on a
  16-byte key with map-side partial aggregation.
- **MinHash+LSH** — shingle → 32-bit portable hash → k=16 min-hash
  signature (computed as 16 parallel MIN aggregates: ONE shuffle on
  doc_id, no k× row explosion) → b=4 bands × r=4 rows → candidate pairs
  via an equi-join on (band, band-signature) → exact Jaccard verify.
  All-pairs comparison never happens; cost is O(candidates), and the
  band join is an ordinary hash join that AQE can skew-split.
- **SimHash** — 60-bit fingerprint (md5-based portable hash); candidate
  generation by banding the fingerprint into 4×15-bit chunks, which is
  LOSSLESS for hamming distance ≤ 3 (pigeonhole: 3 differing bits touch
  ≤ 3 of 4 bands). Verify with bit_count(xor).
- **n-gram Jaccard** — direct shingle-join pairing (no LSH) for
  small/medium corpora or as the verify stage.

All hashes are the md5-prefix "portable" family so every operator has a
value-identical ANSI-SQL oracle (see plans/llm.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash32, portable_hash32_sql, portable_hash60
from ..functions.text import distinct_shingles, tokens, word_shingles
from ..utils import bounded_collect, driver_frame

# MinHash parameters — shared with the SQL oracle generator (plans/llm.py).
MINHASH_PERMS = 16
LSH_BANDS = 4
LSH_ROWS = 4
MERSENNE_P = 4_294_967_311  # smallest prime > 2^32

# Deterministic affine coefficients (a odd < 2^30 so a*h stays < 2^62).
KNUTH = 2_654_435_761
MINHASH_A = [((KNUTH * (i + 1)) % (1 << 30)) | 1 for i in range(MINHASH_PERMS)]
MINHASH_B = [(9973 * 40503 * (i + 1) + 12345) % (1 << 30) for i in range(MINHASH_PERMS)]

SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 4 × 15-bit bands → lossless for hamming ≤ 3
SIMHASH_MAX_HAMMING = 3


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: md5(text) → keeper id (min) + duplicate count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _rebalance(df: DataFrame) -> DataFrame:
    """Spread a compute-heavy input across cores.

    Text corpora often arrive as few large-ish files whose *byte* size
    under-estimates their *compute* cost (tokenize + hash per row), leaving
    most executors idle. If the scan has fewer partitions than the cluster
    has slots, shuffle-rebalance first; if it's already well-partitioned
    (the 100 TB case), this is a no-op.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # Runs during assembly: the choice needs the input's physical
    # partition count, which exists only once the input is planned. On a
    # file scan that is metadata and launches no job; on a derived frame
    # under AQE, planning runs its shuffle and broadcast stages first
    # (curation_pipeline's 3 eager jobs, when its persisted stage1 is
    # not cached yet).
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def _shingle_table(
    docs: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingle) exploded distinct-shingle table."""
    return _rebalance(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(distinct_shingles(text_col, n)).alias("s"),
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """k-perm MinHash signature per doc: columns mh0..mh{k-1}."""
    return _signatures_from_shingles(_shingle_table(docs, text_col, id_col, n))


def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    """One groupBy(doc) computing all k mins simultaneously — the signature
    costs a single shuffle regardless of k (no k-fold row explosion).
    Each aggregate is one SQL expression: built from Column calls, every
    literal and operator would be its own py4j round trip."""
    h = portable_hash32_sql("s")
    aggs = [
        F.expr(f"min(({a} * {h} + {b}) % {MERSENNE_P}) AS mh{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _lsh_bands(sig: DataFrame) -> DataFrame:
    """Explode signatures into (doc_id, band_id, band_sig) rows."""
    bands = []
    for j in range(LSH_BANDS):
        cols = [F.col(f"mh{j * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        bands.append(
            F.struct(
                F.lit(j).alias("band_id"), F.concat_ws(",", *cols).alias("band_sig")
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "b.band_id", "b.band_sig")


def lsh_candidate_pairs(
    sig: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Distinct candidate (a,b) pairs sharing at least one LSH band.

    ``max_bucket`` is the hot-bucket CAP: band buckets holding more than
    this many docs are excluded from pair generation (both join sides),
    bounding any single bucket's cost at C(max_bucket, 2). A bucket that
    large is a mass-duplication flood, not a near-dup neighborhood —
    the standard LSH-at-scale guard (exact dedup upstream already
    collapses byte-identical floods, measured in
    tools/scale_probe_r5.py @ bb3b052; the cap covers the near-identical
    residue). ``None`` (default) keeps the exhaustive behavior the
    oracles replicate — capped calls trade recall inside flooded
    buckets for a hard cost bound, so the cap is an explicit operator
    knob, never silently applied.

    Dedup of the UNCAPPED path is FIRST-MATCHING-BAND, not
    ``.distinct()``: every band row carries the doc's full
    band-signature array, and a joined pair survives only when no
    EARLIER band also matched — so each pair is emitted exactly once,
    at its minimal matching band. That removes the extra full shuffle a
    pair-level ``distinct`` cost (the verify join downstream
    re-partitions by doc anyway, so the distinct's (a,b) partitioning
    was never reused), at the price of a ``LSH_BANDS``-wide array
    riding the band shuffle. Exactness matters: duplicate pair rows
    would MULTIPLY the per-pair shingle matches in
    ``_jaccard_verify``'s intersection count, so the dedup cannot
    simply be dropped. The CAPPED path uses ``.distinct()`` instead:
    first-band logic can't see that an earlier matching band was capped
    away (it would silently drop the pair), and the capped output is
    cost-bounded anyway, so the distinct shuffle is cheap there."""
    band_sigs = ", ".join(
        "concat_ws(',', "
        + ", ".join(f"mh{j * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + ")"
        for j in range(LSH_BANDS)
    )
    sig_arr = sig.withColumn("all_sigs", F.expr(f"array({band_sigs})"))
    bands = sig_arr.select(
        "doc_id",
        F.posexplode("all_sigs").alias("band_id", "band_sig"),
        "all_sigs",
    )
    if max_bucket is not None:
        from pyspark.sql.window import Window

        bw = Window.partitionBy("band_id", "band_sig")
        capped = (
            bands.withColumn("_bsz", F.count(F.lit(1)).over(bw))
            .filter(F.col("_bsz") <= max_bucket)
            .select("doc_id", "band_id", "band_sig")
        )
        c1, c2 = capped.alias("b1"), capped.alias("b2")
        return (
            c1.join(
                c2,
                (F.col("b1.band_id") == F.col("b2.band_id"))
                & (F.col("b1.band_sig") == F.col("b2.band_sig"))
                & (F.col("b1.doc_id") < F.col("b2.doc_id")),
            )
            .select(
                F.col("b1.doc_id").alias("doc_id_a"),
                F.col("b2.doc_id").alias("doc_id_b"),
            )
            .distinct()
        )
    b1 = bands.alias("b1")
    b2 = bands.alias("b2")
    no_earlier_match = F.forall(
        F.slice(
            F.zip_with(
                F.col("b1.all_sigs"),
                F.col("b2.all_sigs"),
                lambda x, y: x != y,
            ),
            F.lit(1),
            F.col("b1.band_id"),
        ),
        lambda differs: differs,
    )
    return (
        b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.band_sig") == F.col("b2.band_sig"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .filter(no_earlier_match)
        .select(
            F.col("b1.doc_id").alias("doc_id_a"),
            F.col("b2.doc_id").alias("doc_id_b"),
        )
    )


def lsh_candidate_pairs_salvaged(
    sig: DataFrame, max_bucket: int, salt_target: int | None = None
) -> DataFrame:
    """Hot-band SALVAGE — the opt-in alternative to the flood cap's
    drop. Where ``lsh_candidate_pairs(max_bucket=...)`` excludes
    over-full band buckets outright (bounded cost, recall lost inside
    the flood), this keeps them at bounded cost:

    - band buckets with ≤ ``max_bucket`` docs pair exhaustively as
      before;
    - a HOT bucket (size s > max_bucket) is split into
      ``ceil(s / salt_target)`` deterministic salt groups
      (md5-portable hash of doc_id, so the split is reproducible and
      ANSI-expressible), pairs are generated WITHIN each salt group,
      and the groups are CHAINED through their min-doc representatives
      (rep of salt g pairs with rep of salt g+1).

    Cost: a hot bucket costs ~(s/salt_target)·C(salt_target, 2) + s/
    salt_target chain pairs — LINEAR in s instead of C(s, 2), and no
    single task ever holds more than ~salt_target docs of one bucket
    (the same per-task bound salting gives skewed joins,
    operators/skew.py). Recall: pairwise recall inside a hot bucket is
    partial BY DESIGN (within-group ∪ chain), but every doc of a true
    near-identical flood stays connected through its group and the rep
    chain, so the CLUSTER a downstream connected-components resolution
    sees is intact — verified pairs still pass the exact Jaccard gate
    individually, so a poisoned bucket (unrelated docs colliding)
    chains only where docs genuinely match. The planted-adversarial
    test (tests/test_dedup.py) pins: one component under salvage,
    shattered under drop, candidates a fraction of the uncapped count.
    """
    from pyspark.sql.window import Window

    if max_bucket < 2:
        raise ValueError("max_bucket must be >= 2")
    salt_target = int(salt_target or max_bucket)
    if salt_target < 2:
        raise ValueError("salt_target must be >= 2")
    bands = _lsh_bands(sig)
    bw = Window.partitionBy("band_id", "band_sig")
    # five consumers reference this subtree (both sides of the cold and
    # hot self-joins + the rep chain) — persist so the band explode and
    # the sizing window run once, not five times (same session-lifetime
    # persist policy as minhash_near_duplicates' shingle/sig tables)
    sized = bands.withColumn("_bsz", F.count(F.lit(1)).over(bw)).persist()

    def _self_pairs(side: DataFrame, keys: list[str]) -> DataFrame:
        a, b = side.alias("b1"), side.alias("b2")
        cond = F.col("b1.doc_id") < F.col("b2.doc_id")
        for k in keys:
            cond = cond & (F.col(f"b1.{k}") == F.col(f"b2.{k}"))
        return a.join(b, cond).select(
            F.col("b1.doc_id").alias("doc_id_a"),
            F.col("b2.doc_id").alias("doc_id_b"),
        )

    cold = sized.filter(F.col("_bsz") <= max_bucket).select(
        "doc_id", "band_id", "band_sig"
    )
    cold_pairs = _self_pairs(cold, ["band_id", "band_sig"])

    hot = (
        sized.filter(F.col("_bsz") > max_bucket)
        .withColumn(
            # INTEGER ceil — float ceil(s/t) misranks at exact multiples
            # (the 0.3*10 → 3.0000000000000004 class of bug); div on
            # positives is floor, so (s + t - 1) div t is exact
            "_nsalt",
            F.expr(f"(_bsz + {salt_target} - 1) div {salt_target}"),
        )
        .withColumn(
            "_salt",
            F.pmod(
                portable_hash60(F.col("doc_id").cast("string")),
                F.col("_nsalt"),
            ),
        )
        .select("doc_id", "band_id", "band_sig", "_salt")
    )
    within = _self_pairs(hot, ["band_id", "band_sig", "_salt"])
    # chain the salt groups: one representative per group, consecutive
    # reps pair up — ≤ s/salt_target rows per bucket, so the per-bucket
    # window is metadata-sized even for a monster flood
    reps = hot.groupBy("band_id", "band_sig", "_salt").agg(
        F.min("doc_id").alias("_rep")
    )
    rw = Window.partitionBy("band_id", "band_sig").orderBy("_salt")
    chain = (
        reps.withColumn("_prev", F.lag("_rep").over(rw))
        .filter(F.col("_prev").isNotNull())
        .select(
            F.least("_prev", "_rep").alias("doc_id_a"),
            F.greatest("_prev", "_rep").alias("doc_id_b"),
        )
    )
    return (
        cold_pairs.unionByName(within).unionByName(chain).distinct()
    )


def minhash_near_duplicates_salvaged(
    docs: DataFrame,
    threshold: float = 0.5,
    max_bucket: int = 64,
    salt_target: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with the hot-band salvage path (see
    :func:`lsh_candidate_pairs_salvaged`): flood buckets are salted and
    chained instead of dropped, every surviving pair exact-Jaccard
    verified as usual."""
    shingles = _shingle_table(docs, text_col, id_col, n).persist()
    sig = _signatures_from_shingles(shingles).persist()
    # same double-consumption + selective-candidate argument as
    # minhash_near_duplicates; prefilter A/B'd solo in r12 (in-protocol
    # min-of-medians at sf0.1): 0.633 s with vs 0.812 s without — the
    # standalone dedup shape keeps it, like the plain minhash path
    pairs = lsh_candidate_pairs_salvaged(sig, max_bucket, salt_target).persist()
    return _jaccard_verify(pairs, shingles, threshold, prefilter=True)


def _jaccard_verify(
    pairs: DataFrame,
    shingles: DataFrame,
    threshold: float,
    prefilter: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs, filtered to >= threshold.

    ``prefilter=True`` (guide §3.4: semi-join pre-filter before an
    expensive join) first restricts the shingle table to docs that
    appear in at least one candidate pair, and persists that slice so
    the three consumers below (both intersection probes + the size
    aggregate) share ONE pass over the full table instead of three.
    Pure inner-join algebra — rows of docs in no pair can never survive
    any of the three inner joins — so results are identical. Only worth
    it when candidates are selective (the LSH path: candidate docs ≪
    corpus); the all-pairs ngram path keeps the direct shape. Callers
    passing prefilter=True should persist ``pairs`` (it is consumed
    twice: doc-id filter + intersection probe)."""
    if prefilter:
        pair_docs = (
            pairs.select(F.col("doc_id_a").alias("doc_id"))
            .union(pairs.select(F.col("doc_id_b").alias("doc_id")))
            .distinct()
        )
        # AQE broadcasts the doc-id side when small; at 100 TB a huge
        # candidate set degrades gracefully to a shuffled semi join
        shingles = shingles.join(pair_docs, "doc_id", "semi").persist()
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    t1 = shingles.alias("t1")
    t2 = shingles.alias("t2")
    inter = (
        pairs.join(t1, F.col("t1.doc_id") == F.col("doc_id_a"))
        .join(
            t2,
            (F.col("t2.doc_id") == F.col("doc_id_b"))
            & (F.col("t2.s") == F.col("t1.s")),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_id_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_id_b"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(
                F.col("inter")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def substring_dup_stats(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact cross-document substring duplication audit (the Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    span-dedup measurement, at token n-gram granularity): for every doc,
    how many of its token positions start an n-gram that appears
    VERBATIM in at least one OTHER doc, and what fraction of its tokens
    lies inside such a span (overlapping spans merged by interval
    union — the removable-duplication measure span-dedup acts on).

    Scale shape: one shuffle groups the positional n-grams ("a gram
    appears in ≥2 distinct docs" is ``min(doc_id) != max(doc_id)`` —
    two cheap aggregates, no distinct machinery), one semi-join back
    tags duplicated positions, and the interval union is a per-doc
    window (bounded by DOC length, never corpus-sized — the legal
    window shape). Grams are grouped by their exact text, so the audit
    is collision-free by construction; a 100 TB deployment would group
    by a 128-bit hash first and verify equality within buckets (same
    exactness, ~n× less shuffle payload).

    Output: (doc_id, n_tokens, dup_spans, covered_tokens, dup_fraction)
    for EVERY doc — docs shorter than ``n`` tokens or with no duplicated
    span report zeros. dup_fraction = covered_tokens / n_tokens, 6 dp.
    """
    from ..functions.text import tokens, word_shingles

    tk = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("_tk")
    ).persist()
    sizes = tk.select("doc_id", F.size("_tk").alias("n_tokens"))
    sp = tk.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("_tk"), n)).alias("_p0", "g"),
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "g")
    dup = (
        sp.groupBy("g")
        .agg(F.min("doc_id").alias("_a"), F.max("doc_id").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .select("g")
    )
    hits = sp.join(dup, "g", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + F.lit(n - 1)).alias("_end")
    )
    return _covered_span_stats(sizes, hits)


def _covered_span_stats(sizes: DataFrame, hits: DataFrame) -> DataFrame:
    """Shared tail of the substring-dedup family: interval-union token
    coverage per doc. ``hits`` carries (doc_id, pos, _end) duplicated
    spans; ``sizes`` carries (doc_id, n_tokens) for EVERY doc. The
    window is per-doc (bounded by DOC length, never corpus-sized) —
    gaps-and-islands via running max of span ends over PRECEDING rows."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0),
        F.col("_end")
        - F.greatest(
            F.col("pos") - 1, F.coalesce(F.max("_end").over(w), F.lit(0))
        ),
    )
    per_doc = (
        hits.withColumn("_c", contrib)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_spans"),
            F.sum("_c").alias("covered_tokens"),
        )
    )
    return (
        sizes.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            # NULL for an empty doc, never an ANSI divide-by-zero
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce("covered_tokens", F.lit(0))
                    / F.col("n_tokens").cast("double"),
                    6,
                ),
            ).alias("dup_fraction"),
        )
    )


def substring_dup_vs_lake(
    batch: DataFrame,
    lake: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring dedup AT THE DOOR: for each INCOMING doc, the fraction
    of its tokens covered by n-gram spans that already exist in the
    lake — or verbatim in at least one OTHER batch doc (the batch can
    duplicate itself). The incremental twin of
    :func:`substring_dup_stats`, asymmetric like
    ``dedup_against_index``: only the batch's positional grams carry
    positions; the lake contributes a DISTINCT gram set, so per-batch
    cost is O(batch grams) + one join against the lake grams. At scale,
    persist the lake gram table bucketed by a gram hash (the same
    stored-index maintenance pattern as ``build_dedup_index`` /
    ``append_dedup_index``) so the lake side never re-shuffles per
    batch.

    Output schema identical to :func:`substring_dup_stats`, restricted
    to the batch docs."""
    from ..functions.text import tokens, word_shingles

    def _spans(docs):
        tk = docs.select(
            F.col(id_col).alias("doc_id"), tokens(text_col).alias("_tk")
        )
        return tk.select(
            "doc_id",
            F.posexplode(word_shingles(F.col("_tk"), n)).alias("_p0", "g"),
        ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "g")

    b_tk = batch.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("_tk")
    ).persist()
    sizes = b_tk.select("doc_id", F.size("_tk").alias("n_tokens"))
    sp_b = b_tk.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("_tk"), n)).alias("_p0", "g"),
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "g").persist()

    # no distinct() anywhere on the right side: LEFT SEMI dedups by
    # construction, so deduping the lake grams (or the union) first
    # would only add full-width shuffles of the lake gram set
    lake_grams = _spans(lake).select("g")
    within = (
        sp_b.groupBy("g")
        .agg(F.min("doc_id").alias("_a"), F.max("doc_id").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .select("g")
    )
    dup = lake_grams.unionByName(within)
    hits = sp_b.join(dup, "g", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + F.lit(n - 1)).alias("_end")
    )
    return _covered_span_stats(sizes, hits)


def build_substring_index(
    docs: DataFrame,
    index_name: str,
    n: int = 8,
    text_col: str = "text",
    n_buckets: int = 8,
) -> None:
    """Persist the lake-side state `substring_dup_vs_stored_index`
    probes: ``{index_name}_grams`` (g) — the DISTINCT token n-gram set
    of the lake, BUCKETED by ``g``. This is the stored-index twin of
    :func:`substring_dup_vs_lake`'s inline lake side, same maintenance
    pattern as ``build_dedup_index``: the inline form re-tokenizes,
    re-explodes and re-shuffles the WHOLE lake's grams on every batch —
    at a 100 TB lake that per-batch lake-side term dominates; the
    stored table is built once (the distinct is paid at build, where
    it also shrinks the table by the corpus' gram repetition factor),
    appended per batch, and every probe's semi-join lands on the
    bucket key so the lake side never exchanges again (plan-pinned in
    tests/test_dedup.py; measured in tools/scale_probe_r9.py @ 7106773).

    Grams are stored as TEXT (collision-free, oracle-exact — same
    decision as the inline form); a 100 TB deployment would store a
    128-bit hash beside it and bucket on that (same exactness after an
    in-bucket equality check, ~n× less storage). Bucket-count guidance
    as in operators/bucketing.py."""
    _write_substring_index(docs, index_name, n, text_col, n_buckets, "overwrite")


def append_substring_index(
    docs: DataFrame,
    index_name: str,
    n: int = 8,
    text_col: str = "text",
    n_buckets: int = 8,
) -> None:
    """Per-batch maintenance: append an ingested batch's (batch-
    distinct) grams with the SAME bucket spec — the bucketing metadata
    stays valid and later probes still skip the lake-side shuffle.
    Cross-batch repeats of a gram are tolerated by construction (the
    probe is a LEFT SEMI, which dedups the right side); compact on the
    lake's cadence to fold them. ``n_buckets`` must match the build."""
    _write_substring_index(docs, index_name, n, text_col, n_buckets, "append")


def _write_substring_index(docs, index_name, n, text_col, n_buckets, mode):
    from ..functions.text import tokens, word_shingles
    from .bucketing import write_bucketed

    grams = docs.select(
        F.explode(word_shingles(tokens(text_col), n)).alias("g")
    ).distinct()
    write_bucketed(grams, f"{index_name}_grams", "g", n_buckets, mode=mode)


def substring_dup_vs_stored_index(
    batch: DataFrame,
    index_name: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`substring_dup_vs_lake` against the PERSISTED bucketed gram
    index — the production per-batch door screen. Identical output
    contract (``substring_dup_stats`` schema, batch docs only).

    Plan shape this buys (pinned in tests/test_dedup.py): the lake gram
    semi-join lands on the stored table's bucket key, so the lake side
    is a bucketed scan with NO Exchange — only the batch's positional
    grams shuffle, making per-batch shuffle volume O(batch) regardless
    of lake size. The lake and within-batch semi-joins stay SEPARATE
    (unioning the stored scan with the batch-derived dup grams first
    would discard the bucketed distribution); their hit sets overlap,
    so positions are deduped batch-side before the span union."""
    from ..functions.text import tokens, word_shingles

    spark = batch.sparkSession
    stored = spark.table(f"{index_name}_grams")

    # localCheckpoint, NOT persist: this runs once per ingested batch
    # forever — persisted entries would accumulate one session-lifetime
    # cache entry per batch (the same argument as
    # dedup_against_stored_index's shingle table); checkpoint blocks are
    # released when the frame is GC'd
    b_tk = batch.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("_tk")
    ).localCheckpoint(eager=False)
    sizes = b_tk.select("doc_id", F.size("_tk").alias("n_tokens"))
    sp_b = b_tk.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("_tk"), n)).alias("_p0", "g"),
    ).select(
        "doc_id", (F.col("_p0") + 1).alias("pos"), "g"
    ).localCheckpoint(eager=False)

    within = (
        sp_b.groupBy("g")
        .agg(F.min("doc_id").alias("_a"), F.max("doc_id").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .select("g")
    )
    hits = (
        sp_b.join(stored, "g", "left_semi")
        .unionByName(sp_b.join(within, "g", "left_semi"))
        .select("doc_id", "pos")
        .distinct()  # batch-sized: a position hit by both sources
        .select("doc_id", "pos", (F.col("pos") + F.lit(n - 1)).alias("_end"))
    )
    return _covered_span_stats(sizes, hits)


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    prefilter: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact Jaccard verification.

    Output: (doc_id_a, doc_id_b, jaccard) for LSH candidates whose true
    shingle Jaccard >= threshold. Note the LSH stage is probabilistic: a
    pair above threshold that never collides on a band is (by design) not
    in the output — the SQL oracle replicates the banding exactly, so
    results are deterministic and comparable.

    ``prefilter`` toggles the candidate-doc semi-join slice inside the
    verify (see ``_jaccard_verify``); results are identical either way.
    Keep the default when the pair frame is THE result; pass False when
    the call is one stage of a larger pipeline whose later stages
    re-consume the corpus anyway (operators/curation.py::curate) — there
    the extra persisted layer costs more than the saved shingle pass
    (r12 in-protocol A/B at sf0.1: standalone 0.74 s -> 0.26 s WITH the
    prefilter, curate's timed block 0.19 s -> 0.46 s, so each site gets
    the shape that measured faster).
    """
    # The shingle table feeds three consumers (signatures + both sides of
    # the Jaccard-verify join) and the signature table two (both sides of
    # the band self-join) — persist both so the md5 hashing and the explode
    # run once. On a cluster these are small hot tables (ids + hashes);
    # MEMORY_AND_DISK keeps the plan safe if they outgrow memory.
    shingles = _shingle_table(docs, text_col, id_col, n).persist()
    sig = _signatures_from_shingles(shingles).persist()
    # pairs feeds the verify's doc-id prefilter AND its intersection
    # probe — persist so the band self-join runs once (r12, guide §3.4)
    pairs = lsh_candidate_pairs(sig).persist()
    return _jaccard_verify(pairs, shingles, threshold, prefilter=prefilter)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """All-pairs n-gram Jaccard via shingle equi-join (no LSH).

    Candidate generation joins docs that share >= 1 shingle — exact, but
    O(sum of shingle-bucket²); use `minhash_near_duplicates` at corpus
    scale. This variant doubles as the ground-truth for LSH recall tests.
    """
    shingles = _shingle_table(docs, text_col, id_col, n).persist()
    s1 = shingles.alias("s1")
    s2 = shingles.alias("s2")
    pairs = (
        s1.join(
            s2,
            (F.col("s1.s") == F.col("s2.s"))
            & (F.col("s1.doc_id") < F.col("s2.doc_id")),
        )
        .select(
            F.col("s1.doc_id").alias("doc_id_a"),
            F.col("s2.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    return _jaccard_verify(pairs, shingles, threshold)


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """60-bit SimHash per doc from distinct-shingle hashes.

    Explodes to (doc, shingle-hash) then aggregates 60 signed bit-sums in
    ONE groupBy (map-side partials) and packs the sign bits into a BIGINT.
    """
    sh = _shingle_table(docs, text_col, id_col, n).select(
        "doc_id", portable_hash60(F.col("s")).alias("h")
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = sh.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else (fp + term)
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming.

    Candidates come from equality on one of 4 15-bit bands of the
    fingerprint — lossless for max_hamming <= 3 (pigeonhole), so the
    output equals a full O(n²) scan while costing only a hash join.
    """
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"banded candidate generation is only lossless for hamming <= "
            f"{SIMHASH_BANDS - 1}, got {max_hamming}"
        )
    # fingerprints feed both sides of the band self-join — persist so the
    # 60-bit-sum aggregation runs once
    fps = simhash_fingerprints(docs, text_col, id_col, n).persist()
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_width) - 1
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.shiftright(F.col("simhash"), j * band_width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_id", "b.band_val")
    b1 = bands.alias("b1")
    b2 = bands.alias("b2")
    pairs = (
        b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.band_val") == F.col("b2.band_val"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_id_a"),
            F.col("b2.doc_id").alias("doc_id_b"),
            F.col("b1.simhash").alias("sh_a"),
            F.col("b2.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


# Size-adaptive cutoff for resolving a pair graph on the DRIVER instead
# of running the distributed fixpoint: a checkpointed edge frame at or
# under this many rows (~a few MB of (id, id) tuples) is collected and
# solved with union-find in microseconds, replacing O(log d) shuffle
# rounds of ~2 jobs each (guide §2.2/§3 — pick the strategy from the
# input size, the same reasoning as broadcasting a small join side).
# Verified dedup pair graphs are usually tiny relative to the corpus;
# graphs above the bound take the distributed loop unchanged.
MAX_LOCAL_CC_EDGES = 100_000


def _local_cc_labels(edge_rows, node_ids):
    """Union-find over collected edges; returns [(node, min-id-in-its-
    component)] for every node in ``node_ids`` — exactly the fixpoint the
    distributed min-label propagation / star algorithms converge to."""
    parent: dict = {n: n for n in node_ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    best: dict = {}
    for n in node_ids:
        r = find(n)
        if r not in best or n < best[r]:
            best[r] = n
    return [(n, best[find(n)]) for n in node_ids]


def _local_labels_frame(spark, template: DataFrame, labels: list) -> DataFrame:
    """(node, label) frame from driver-side labels, typed like the edge
    frame's id column so the local path's schema matches the distributed
    one. Built with ``utils.driver_frame``: it plans as a JVM
    ``LocalRelation``, so an action over a CC consumer replays the solved
    labels without Python workers, and its size in the plan does not
    grow with one expression per row."""
    from pyspark.sql import types as T

    id_type = template.schema.fields[0].dataType
    schema = T.StructType(
        [
            T.StructField("node", id_type, True),
            T.StructField("label", id_type, True),
        ]
    )
    return driver_frame(spark, labels, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into CLUSTERS: label every document
    with the smallest doc_id reachable through the pair graph (undirected
    connectivity). Output: (doc_id, cluster_id), one row per document that
    appears in at least one pair.

    This is the step real dedup pipelines need after pair generation —
    keeping "one doc per pair" over-deletes when A~B and B~C but A≁C;
    cluster resolution keeps exactly one canonical doc (min id) per
    transitively-connected group.

    Algorithm: min-label propagation with POINTER JUMPING. Each round
    every node takes (1) the min of its own and its neighbors' labels,
    then (2) the label of its own label (path-halving shortcut, the same
    doubling trick as Kiveris et al.'s large-star/small-star, SoCC'14) —
    so a component of diameter d converges in O(log d) rounds, not O(d).
    Each round is two shuffle-joins + a grouped min.

    Every round's result is CHECKPOINTED, not just persisted: persist
    caches data but the logical plan still doubles per round (union +
    convergence-check both embed the previous round), and by round ~20
    the plan string hits gigabytes and Catalyst analysis dominates the
    runtime. Checkpointing truncates lineage so per-round cost is flat —
    and the returned frame is already materialized, so downstream
    consumers never re-run the loop. If the session has a reliable
    checkpoint dir configured (``sc.setCheckpointDir``) it is used
    (survives executor loss — the right mode on a 1000-executor
    cluster); otherwise ``localCheckpoint`` (executor-local blocks,
    fine for local / small-cluster runs).
    """
    from ._loops import loop_checkpoint as _checkpoint

    both = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # both feeds the node set AND the edge union below. CHECKPOINTED,
    # not persisted (r13): persist runs the caller's pair-generation
    # subtree once, but its LOGICAL plan (often an entire
    # classifier+minhash+verify pipeline) still rides into every
    # round's join — and each round's analyze/optimize/cache-lookup
    # pass re-walks that tree, so per-round cost grows with caller
    # lineage, not graph size (measured: 72 s of pure planning for an
    # 11-pair graph under curation_pipeline_v3's lineage vs 2.8 s with
    # the input checkpointed). The checkpoint truncates lineage at the
    # loop entrance, same as the star variant's edge checkpoint.
    both = _checkpoint(both)
    # size-adaptive local solve (guide §2.2): a graph that fits the
    # driver bound is solved with union-find from one collect of the
    # checkpointed edges instead of O(log d) checkpoint rounds. NULL
    # endpoints (which the distributed joins silently drop in round 1)
    # keep the loop path so the two paths never disagree.
    t = bounded_collect(both, MAX_LOCAL_CC_EDGES)
    rows = None if t is None else list(zip(*(c.to_pylist() for c in t.columns)))
    if rows is not None and all(a is not None and b is not None for a, b in rows):
        labels = _local_cc_labels(rows, sorted({a for a, _ in rows}))
        return _local_labels_frame(pairs.sparkSession, both, labels).select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
        )
    # self-loops fold the "keep your own label" term into the neighbor-min
    # join itself, so the propagation loop contains NO Union — a Union of
    # a checkpointed child inside the loop trips Catalyst's
    # InferFiltersFromConstraints on non-nullable lineage (key-not-found
    # in UnionBase.rewriteConstraints), and one less operator per round
    # keeps the per-round plan minimal anyway.
    nodes = both.select(F.col("src").alias("node")).distinct()
    edges = (
        both.unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = _checkpoint(nodes.select("node", F.col("node").alias("label")))
    converged = labels.isEmpty()  # empty graph is trivially converged
    for _ in range(max_iterations):
        if converged:
            break
        stepped = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: label(label(x)). A label is always the id of a
        # node in the same component (it entered via a path of edges),
        # and label(y) <= y, so the shortcut only moves labels down and
        # never across components. Left join + coalesce guards the root
        # (label(root) = root always matches, but be explicit).
        jumped = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("node").alias("l_node"), F.col("label").alias("l_label")
                ),
                F.col("a.label") == F.col("l_node"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.coalesce(F.col("l_label"), F.col("a.label")).alias("label"),
            )
        )
        # fixpoint test by direct comparison — works for ANY orderable id
        # type (a sum-of-labels shortcut would misread string ids as an
        # empty graph and can overflow on wide hash-derived longs).
        # r13: the old-vs-new comparison join runs INSIDE the round's
        # checkpoint job (one eager job per round instead of checkpoint
        # + a separate convergence-join job); the convergence test then
        # only scans the materialized checkpoint blocks.
        new_labels = _checkpoint(
            jumped.alias("n")
            .join(
                labels.select(
                    "node", F.col("label").alias("__old")
                ).alias("o"),
                "node",
            )
            .select(
                "node",
                F.col("n.label").alias("label"),
                (F.col("n.label") != F.col("__old")).alias("__chg"),
            )
        )
        converged = new_labels.filter(F.col("__chg")).isEmpty()
        labels = new_labels.select("node", "label")
    edges.unpersist()
    # both is checkpointed — local blocks free when the frame is GC'd;
    # reliable checkpoint files live until the context stops (enable
    # spark.cleaner.referenceTracking.cleanCheckpoints on a long-lived
    # driver that loops over many CC calls)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds — the pair graph has a longer chain than expected; "
            "raise max_iterations or switch to large-star/small-star"
        )
    # labels is checkpointed (materialized): consumers re-reading the
    # returned frame scan the checkpoint blocks, never re-run the loop
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def jaccard_prefix_join(
    docs: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
) -> DataFrame:
    """EXACT token-set Jaccard self-join via prefix filtering (AllPairs,
    Bayardo et al. WWW'07) — the lossless scale path between the brute
    shingle join (`ngram_jaccard_pairs`, exact but O(bucket²) on common
    shingles) and MinHash-LSH (sub-quadratic but probabilistic).

    Losslessness: order every doc's distinct tokens by ascending global
    document frequency (rarest first, ties by token). If J(x,y) >= t then
    |x∩y| >= t·|x| (and t·|y|), and the FIRST common token w in that
    order must sit within the first |x| - ceil(t·|x|) + 1 tokens of x
    (everything before w in x is non-shared, so if w were later, x would
    carry >= ceil(t|x|) non-shared tokens — contradiction); same for y.
    So joining only PREFIX tokens finds every qualifying pair, and the
    exact verify stage keeps the result identical to all-pairs.

    Scale: the candidate join touches only rare-token buckets — the
    frequency ordering pushes high-df stopwords out of prefixes, which is
    what kills the O(bucket²) blowup of the naive join. A length filter
    (t·|x| <= |y| <= |x|/t) prunes further inside the join condition.
    Cost: one token shuffle for df, one per-doc window (partitioned by
    doc — no global window), the prefix self-join, and the verify join.
    The prefix length uses DECIMAL arithmetic so ceil() is exact — a
    float ceil(0.6*5)=ceil(3.0000000000000004)=4 would shrink the prefix
    and silently drop pairs.
    """
    from pyspark.sql import Window

    sh = _shingle_table(docs, text_col, id_col, n).persist()
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    t_dec = F.lit(f"{threshold:.6f}").cast("decimal(12,6)")
    ranked = (
        sh.join(df_counts, "s")
        .select(
            "doc_id",
            "s",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("df", "s"))
            .alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("sz"),
        )
        .withColumn("plen", F.col("sz") - F.ceil(t_dec * F.col("sz")) + 1)
    )
    prefix = ranked.filter(F.col("r") <= F.col("plen")).select("doc_id", "s", "sz")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: |y| >= t|x| given |x| <= |y| w.l.o.g. — both
            # orderings of sizes appear across the pair, so bound both ways
            & (F.col("b.sz") * t_dec <= F.col("a.sz"))
            & (F.col("a.sz") * t_dec <= F.col("b.sz")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    return _jaccard_verify(cand, sh, threshold)


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 3,
    threshold: float = 0.5,
    key_chars: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández/Stolfo): sort the corpus by a
    compact key (here the first ``key_chars`` of the normalized text),
    compare each doc only against the next ``window - 1`` docs in that
    order, verify exact Jaccard. Candidate volume is EXACTLY
    (window-1)·n — linear and perfectly predictable, the property
    blocking/LSH schemes can't promise when a bucket goes hot.

    Recall depends entirely on the key: near-dups that diverge inside
    the key prefix land far apart and are missed (the standard fix is
    multiple passes with different keys — run this operator per key and
    union). On the fixtures the prefix key finds the planted dup set.

    Scale shape: the global sort rank comes from `packing.py::
    global_positions` (range shuffle + per-partition offsets — NO
    single-partition window); neighbors materialize as an equi-join on
    rank (each row probes its next window-1 ranks), then the usual
    exact verify.

    Returns (doc_id_a, doc_id_b, jaccard) with a preceding b in sort
    order — i.e. doc_id_a earlier in the key order.
    """
    from ..functions.text import normalized_text
    from .packing import global_positions

    if "__snm_key" in docs.columns:
        raise ValueError("input already has reserved column __snm_key")
    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.substring(normalized_text(text_col), 1, key_chars).alias(
            "__snm_key"
        ),
    )
    ranked = global_positions(keyed, ["__snm_key", "doc_id"], id_col="doc_id")
    probe = ranked.select(
        F.col("doc_id").alias("doc_id_a"),
        F.explode(
            F.sequence(
                F.col("global_pos") + 1,
                F.col("global_pos") + (window - 1),
            )
        ).alias("pos_b"),
    )
    cand = probe.join(
        ranked.select(
            F.col("global_pos").alias("pos_b"),
            F.col("doc_id").alias("doc_id_b"),
        ),
        "pos_b",
    ).select("doc_id_a", "doc_id_b")
    sh = _shingle_table(docs, text_col, id_col, n)
    return _jaccard_verify(cand, sh, threshold)


def winnowing_fingerprint_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every k-gram, keep the MINIMUM hash of each sliding
    window of w consecutive k-grams, and pair documents sharing at least
    ``min_shared`` fingerprints.

    The point vs the full shingle join: fingerprints SUBSAMPLE the k-gram
    table ~1/w (measured ~3× smaller on the fixtures) with a hard
    GUARANTEE the full join has and random sampling lacks — any verbatim
    match of at least w+k-1 tokens spans a full window on both sides, so
    both documents keep that window's minimum and the match is found.
    Complements `cdc_shared_chunks` (boundary-synced chunks) with the
    plagiarism-detection-style overlapping-window variant.

    Zero-shuffle fingerprinting: k-gram hashes and window minima are
    zip-shift column algebra (null-propagating `least`, so partial tail
    windows drop); only the fingerprint equi-join and the pair count
    shuffle — both on a 8-byte hash key.

    The k-gram hash array is STAGED once per row (r13 — the window-min
    algebra references it in ~2w slice() copies, and higher-order
    functions are codegen-fallback with no common-subexpression
    elimination, so the inline form re-tokenized the document per
    slice: measured 64 → 8 tokenize-chain plan refs and ~3× on the
    fingerprint pass; `_pin_once` stops CollapseProject re-inlining).
    The fingerprint table is persisted for the self-join's two sides
    (lazy result — session-lifetime, LRU-evictable, the
    lsh_candidate_report policy).

    Returns (doc_id_a, doc_id_b, n_shared_fp).
    """
    from .curation import _pin_once  # lazy: curation imports dedup at top

    def _window_min(arr):
        sz = F.size(arr)
        acc = F.slice(arr, 1, sz)
        for j in range(1, w):
            shifted = F.slice(arr, j + 1, sz)
            acc = F.zip_with(
                acc,
                shifted,
                lambda a, b: F.when(b.isNull(), F.lit(None)).otherwise(
                    F.least(a, b)
                ),
            )
        return F.filter(acc, lambda x: x.isNotNull())

    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        _pin_once(
            F.transform(
                word_shingles(tokens(text_col), k),
                lambda s: portable_hash32(s),
            )
        ).alias("_hs"),
    )
    fp = staged.select(
        "doc_id",
        F.explode(F.array_distinct(_window_min(F.col("_hs")))).alias("fp"),
    ).persist()
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= min_shared)
    )


def containment_join(
    docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """EXACT containment self-join: pairs where the SMALLER doc's shingle
    set is ≥ ``threshold`` contained in the larger's (|A∩B| / |A|) —
    the quote/excerpt/subset detector. Jaccard misses exactly this case:
    a tweet quoted inside an article has containment ~1.0 but Jaccard
    ~|A|/|B| ~ 0, so symmetric dedup never pairs them.

    Candidate generation is the one-sided prefix filter: only the
    smaller side needs a prefix (first common token in df-order must sit
    within its (sz - ceil(t·sz) + 1)-prefix — the same pigeonhole as
    `jaccard_prefix_join`, one-sided), while the larger side is indexed
    in full. High-df shingles therefore appear only on the INDEX side of
    the join, and the probe side's prefixes are rare shingles — bucket
    products stay small. Exact verify after; no length filter applies
    (containment is size-asymmetric by design).

    Each doc's shingle-set size rides on every exploded row as
    ``size(shingle_array)`` — computed BEFORE the explode, so it costs
    nothing — and is carried through the candidate pairs into the final
    containment division. That removes the groupBy(doc) size aggregate,
    its join onto the index side, and the size join after the verify
    (each a shuffle or broadcast stage the former shape paid; the size
    equals the former count(*)-per-doc exactly because the explode emits
    one row per array element).

    Returns (doc_id_small, doc_id_large, containment).
    """
    from pyspark.sql import Window

    from .curation import _pin_once  # lazy: curation imports dedup at top

    # stage the array in its own projection: size() and explode() must
    # share ONE evaluation of the tokenize chain, and CollapseProject
    # would otherwise inline the alias into both (measured: 3x the
    # chain per row) — the _pin_once nondeterministic wrapper blocks it
    sh = (
        _rebalance(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            _pin_once(distinct_shingles(text_col, n)).alias("_arr"),
        )
        .select(
            "doc_id",
            F.size("_arr").cast("long").alias("sz"),
            F.explode("_arr").alias("s"),
        )
        .persist()
    )
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    t_dec = F.lit(f"{threshold:.6f}").cast("decimal(12,6)")
    ranked = (
        sh.join(df_counts, "s")
        .select(
            "doc_id",
            "s",
            "sz",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("df", "s"))
            .alias("r"),
        )
        .withColumn("plen", F.col("sz") - F.ceil(t_dec * F.col("sz")) + 1)
    )
    prefix = ranked.filter(F.col("r") <= F.col("plen")).select(
        "doc_id", "s", "sz"
    )
    a, b = prefix.alias("a"), sh.alias("b")
    smaller = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & smaller)
        .select(
            F.col("a.doc_id").alias("doc_id_small"),
            F.col("b.doc_id").alias("doc_id_large"),
            F.col("a.sz").alias("sz"),
        )
        .distinct()
    )
    shv = sh.select("doc_id", "s")  # verify sides don't need sz
    t1, t2 = shv.alias("t1"), shv.alias("t2")
    inter = (
        cand.join(t1, F.col("t1.doc_id") == F.col("doc_id_small"))
        .join(
            t2,
            (F.col("t2.doc_id") == F.col("doc_id_large"))
            & (F.col("t2.s") == F.col("t1.s")),
        )
        # sz is functionally determined by doc_id_small — same groups
        .groupBy("doc_id_small", "doc_id_large", "sz")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.select(
            "doc_id_small",
            "doc_id_large",
            F.round(F.col("i") / F.col("sz"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    escalation path documented on :func:`connected_components` for graphs
    whose DEPTH makes even pointer-jumped label propagation slow. Output
    contract is identical: (doc_id, cluster_id) with cluster_id = min id
    in the component, one row per node appearing in at least one pair.

    Per round, two edge-rewriting steps, each ONE shuffle (a groupBy on
    the star center) + one self-join:

    - **large-star(u)**: m = min(neighborhood(u) + u); every neighbor
      v > u re-hangs onto m. Shrinks long tails toward small labels
      without ever growing a node's degree above its component size.
    - **small-star(u)**: m = min over u's *smaller-or-equal* neighbors
      and u itself; u and those neighbors all re-hang onto m. Flattens
      the partial trees large-star leaves behind.

    The edge set provably converges (monotone potential, see the paper,
    O(log^2 n) rounds worst case, ~log n observed) to a star forest:
    every edge is (node, component-min). Compared with label
    propagation, the frontier here is the EDGE list, which the steps
    actively shrink — on a path graph of length n the edge list halves
    in rounds, while propagation must touch every node each round for
    O(log n) rounds at full width.

    Like :func:`connected_components`, every round is checkpointed
    (reliable if ``setCheckpointDir`` was called, else local) so lineage
    stays flat and the returned frame is materialized.
    """
    from ._loops import loop_checkpoint as _checkpoint

    def _large_star(edges: DataFrame) -> DataFrame:
        # neighborhoods over BOTH directions; min includes the center
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = both.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", "u").alias("m")
        )
        return (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        # orient every edge large→small so the center is the larger end
        oriented = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        # u and all its smaller neighbors hang onto m (m→m self-loop drops)
        return (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), "m")
            .unionByName(mins.select(F.col("u"), F.col("m")))
            .filter(F.col("u") != F.col("m"))
            .select("u", F.col("m").alias("v"))
            .distinct()
        )

    edges = _checkpoint(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # the u != v filter above already dropped any NULL endpoint
    # (NULL != NULL is NULL), so the local solve needs no fallback check
    t = bounded_collect(edges, MAX_LOCAL_CC_EDGES)
    if t is not None:
        rows = list(zip(*(c.to_pylist() for c in t.columns)))
        node_ids = {a for a, _ in rows} | {b for _, b in rows}
        labels = _local_cc_labels(rows, sorted(node_ids))
        return _local_labels_frame(pairs.sparkSession, edges, labels).select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
        )
    nodes = edges.select(F.col("u").alias("node")).unionByName(
        edges.select(F.col("v").alias("node"))
    ).distinct()
    nodes = _checkpoint(nodes)

    converged = edges.isEmpty()
    for _ in range(max_iterations):
        if converged:
            break
        stepped = _checkpoint(_small_star(_large_star(edges)))
        # fixpoint: the canonical (large→small) edge sets are identical.
        # Both sides are distinct, so symmetric-difference emptiness +
        # equal counts reduces to one anti-join each way.
        old_c = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        new_c = stepped.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        converged = (
            new_c.join(old_c, ["u", "v"], "left_anti").isEmpty()
            and old_c.join(new_c, ["u", "v"], "left_anti").isEmpty()
        )
        edges = stepped
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            "rounds — raise max_iterations"
        )
    # converged edge set is a star forest: (child, component-min). The min
    # node of each component appears only as v; label it with itself.
    child_labels = edges.groupBy("u").agg(F.min("v").alias("label"))
    return (
        nodes.join(child_labels, nodes.node == child_labels.u, "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )


def cdc_shared_chunks(
    docs: DataFrame,
    avg_chunk: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (CDC) dedup signal: split every document
    into variable-size chunks at CONTENT-DERIVED boundaries (tokens whose
    hash ≡ 0 mod ``avg_chunk`` start a new chunk → expected chunk length
    avg_chunk), hash each chunk, and report per doc how much of it is
    shared verbatim with OTHER documents.

    Why content-defined instead of fixed windows: an insertion near the
    start of a copied document shifts every fixed-window boundary, so
    fixed chunks of the copy hash differently; CDC boundaries re-sync at
    the next boundary token, so everything after the edit still matches
    — the rsync/LBFS trick applied to text dedup. Catches partial
    copies (quoted sections, syndicated paragraphs) that whole-doc
    hashing misses and that shingle-Jaccard only scores, not localizes.

    Chunking is ZERO-SHUFFLE column algebra: boundary tokens get a '#'
    sentinel prefix (tokens are [a-z0-9]+ so '#' cannot collide), the
    marked token string splits on the sentinel, and each fragment trims
    to a chunk — no posexplode+window cumulative sum, no per-doc sort.
    The only shuffles are the chunk-hash frequency aggregate and the
    join back (both on the 16-byte hash, map-side combinable).

    Returns (doc_id, n_chunks, n_shared_chunks, shared_frac): chunks
    whose hash occurs in ≥ 2 distinct docs count as shared.
    """
    toks = tokens(text_col)
    marked = F.array_join(
        F.transform(
            toks,
            lambda t: F.when(
                F.pmod(portable_hash32(t), F.lit(avg_chunk)) == 0,
                F.concat(F.lit("#"), t),
            ).otherwise(t),
        ),
        " ",
    )
    chunks_arr = F.filter(
        F.transform(F.split(marked, "#"), lambda c: F.trim(c)),
        lambda c: c != F.lit(""),
    )
    # persisted: ch feeds the frequency aggregate AND the join back —
    # unpersisted, the whole tokenize/chunk/md5 chain executed twice
    # (lazy result, session-lifetime — the lsh_candidate_report policy)
    ch = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(chunks_arr).alias("chunk_id", "chunk_text"),
    ).select(
        "doc_id", "chunk_id", F.md5("chunk_text").alias("chunk_hash")
    ).persist()
    freq = ch.groupBy("chunk_hash").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        ch.join(freq, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_shared_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            F.round(
                F.col("n_shared_chunks") / F.col("n_chunks"), 6
            ).alias("shared_frac"),
        )
    )


def source_ngram_overlap(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise n-gram overlap between SOURCES — the corpus-governance
    view of duplication: which feeds are re-publishing each other's
    content (mirrors, scrapes of scrapes), so dedup/mixing decisions can
    be made per source pair instead of per document.

    For every unordered source pair: the count of shared distinct
    shingles and the overlap coefficient |A∩B| / min(|A|,|B|).

    Scale: the unit of work is the DISTINCT (source, shingle) table —
    one hash shuffle — and the self-join on shingle has bucket size
    <= n_sources per shingle, so join output is bounded by S² per
    shingle regardless of corpus size (unlike doc-level pair joins).
    Output is S·(S-1)/2 rows.
    """
    sh = (
        docs.select(
            F.col(source_col).alias("src"),
            F.explode(distinct_shingles(text_col, n)).alias("s"),
        )
        .distinct()
        .persist()
    )
    sizes = sh.groupBy("src").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("src").alias("source_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("src").alias("source_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared") / F.least("sz_a", "sz_b"), 6
            ).alias("overlap_coeff"),
        )
    )


def _cap_band_buckets(bands: DataFrame, max_bucket: int) -> DataFrame:
    """Drop band buckets holding more than ``max_bucket`` docs — the
    asymmetric-probe flood guard (same rationale as
    ``lsh_candidate_pairs``' cap: a bucket that large is a
    mass-duplication flood, not a near-dup neighborhood). Implemented as
    a window so a scan already clustered on band_sig (the stored index's
    bucket key) satisfies the window's distribution without an Exchange
    — the lake side stays shuffle-free under the cap. Partition keys in
    (band_sig, band_id) order ON PURPOSE: it matches the stored index's
    sort spec, so the bucketed scan also satisfies the window's required
    SORT and the cap adds no per-batch re-sort of the index."""
    from pyspark.sql.window import Window

    bw = Window.partitionBy("band_sig", "band_id")
    return (
        bands.withColumn("_bsz", F.count(F.lit(1)).over(bw))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def _prune_and_cap_old_bands(
    bands_old: DataFrame, bands_new: DataFrame, max_bucket: int
) -> DataFrame:
    """Flood-cap the INDEXED side at per-batch cost: first semi-join the
    lake bands down to the (band_id, band_sig) buckets the batch
    actually probes — a broadcast filter of batch-bounded signatures,
    and exact for capping because a semi join on the FULL bucket key
    keeps whole buckets or drops them (never partial counts) — then
    window-count only within the probed buckets. Without the prune the
    cap window counts every lake bucket, re-introducing an O(lake)
    per-batch term (measured 3x the uncapped probe at a 200k-doc lake,
    tools/scale_probe_r7.py @ c5f0fcc)."""
    probe_sigs = bands_new.select("band_id", "band_sig").distinct()
    hit = bands_old.join(
        F.broadcast(probe_sigs), ["band_id", "band_sig"], "leftsemi"
    )
    return _cap_band_buckets(hit, max_bucket)


def dedup_against_index(
    new_docs: DataFrame,
    indexed_docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """INCREMENTAL near-dedup: find documents in an incoming batch that
    near-duplicate documents already in the lake — the production shape
    of dedup inside an ingestion pipeline (dedup-at-the-door), where
    re-pairing the whole corpus per batch would be quadratic over time.

    Same MinHash+LSH machinery as `minhash_near_duplicates`, but the
    band join is ASYMMETRIC: new-batch band signatures probe the indexed
    side's bands, so cost is O(batch) probes against a hash index, never
    O(lake²) and never O(batch × lake). In production the indexed side's
    (band_id, band_sig, doc_id) table is persisted once in the lake and
    appended per batch (same pattern as `ivf` index maintenance); here
    it is computed inline so the operator stays self-contained.

    Output: (doc_id_a = new doc, doc_id_b = indexed doc, jaccard >= t),
    exact-verified. A new doc may match several indexed docs.

    ``max_bucket`` is the flood cap: band buckets holding more than this
    many docs on EITHER side are excluded from the probe, bounding any
    single bucket's candidate pairs at max_bucket² — without it a
    near-identical flood batch against a hot bucket multiplies pairs
    (and the downstream candidate-id broadcast) without bound. ``None``
    keeps the exhaustive behavior the oracles replicate; the cap trades
    recall inside flooded buckets for a hard cost bound, so it is an
    explicit knob, never silently applied.

    The batch/lake shingle tables are local-checkpointed, not persisted:
    both are read twice (signatures + verify), but a session-lifetime
    cache entry per ingested batch grows without bound across a
    long-running ingest — checkpoint blocks are released when the frame
    is garbage-collected instead.
    """
    sh_new = _shingle_table(new_docs, text_col, id_col, n).localCheckpoint(
        eager=False
    )
    sh_old = _shingle_table(
        indexed_docs, text_col, id_col, n
    ).localCheckpoint(eager=False)
    bands_new = _lsh_bands(_signatures_from_shingles(sh_new))
    bands_old = _lsh_bands(_signatures_from_shingles(sh_old))
    if max_bucket is not None:
        bands_new = _cap_band_buckets(bands_new, max_bucket)
        bands_old = _prune_and_cap_old_bands(
            bands_old, bands_new, max_bucket
        )
    cand = (
        bands_new.alias("a")
        .join(
            bands_old.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
        # r13 (VERDICT item 10 re-measurement): cand feeds the verify
        # pair probe AND the candidate-id prune below — left lazy, the
        # signature aggregates + band join re-executed once per
        # reference (the r11 "persist-subtree only" claim was wrong).
        # Lazy localCheckpoint, not persist: per-batch path, same
        # no-session-cache policy as the shingle tables above.
        .localCheckpoint(eager=False)
    )
    # verify over the union shingle table, SEMI-PRUNED to candidate docs
    # first: without the prune, the verify joins shuffle the whole lake
    # shingle table per batch — the one O(lake) term in the per-batch
    # path (measured: probe_incremental_dedup in
    # tools/scale_probe_r6.py @ c2bc8cd).
    # The candidate-id frame is ≤ 2×candidates rows, broadcastable. The
    # residual O(lake) SCAN feeding the semi join disappears in
    # production by storing the doc→shingle table bucketed by doc_id
    # (bucket pruning on the IN-filter), same maintenance pattern as the
    # band index itself. Ids MUST be disjoint across sides (guaranteed
    # in the ingest flow): an id present on both sides would double its
    # size in the union and understate jaccard.
    ids = (
        cand.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    # consumed three times inside _jaccard_verify (sizes + both
    # intersection probes) — checkpoint so the union + semi join run
    # once per batch (r13)
    pruned = sh_new.unionByName(sh_old).join(
        F.broadcast(ids), "doc_id", "leftsemi"
    ).localCheckpoint(eager=False)
    return _jaccard_verify(cand, pruned, threshold)


def build_dedup_index(
    docs: DataFrame,
    index_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_buckets: int = 8,
) -> None:
    """Persist the lake-side state `dedup_against_stored_index` probes:

    - ``{index_name}_bands``  (band_id, band_sig, doc_id), BUCKETED by
      (band_sig, band_id) — the hash index the batch's band signatures
      probe; both probe-join keys are bucket keys, so the bucketed scan
      satisfies the join's co-partition requirement outright;
    - ``{index_name}_shingles``  (doc_id, s), BUCKETED by doc_id — the
      exact-verify side.

    Bucketing is the point: every per-batch probe joins against these
    tables on their bucket keys, so the LAKE side never shuffles again —
    per-batch shuffle volume is O(batch) by construction, which
    `dedup_against_index` (self-contained, recomputes the lake side)
    can only approximate. Same maintenance pattern as the IVF index:
    rebuild periodically, append per batch in between (appending to a
    bucketed table preserves the bucketing).

    Bucket-count guidance as in operators/bucketing.py: size buckets to
    100-500 MB at the target scale (100 TB shingles → thousands of
    buckets, or buckets × date partitions).
    """
    _write_dedup_index(
        docs, index_name, text_col, id_col, n, n_buckets, mode="overwrite"
    )


def _write_dedup_index(
    docs, index_name, text_col, id_col, n, n_buckets, mode
):
    """Single source of truth for the index's bucket/sort specs — build
    (overwrite) and per-batch append must stay byte-compatible or the
    first production append dies on Spark's bucketing-mismatch check."""
    from .bucketing import write_bucketed

    # both writes consume the shingle table — persist so the
    # compute-heavy tokenize+hash explode runs once, not per write
    sh = _shingle_table(docs, text_col, id_col, n).persist()
    try:
        bands = _lsh_bands(_signatures_from_shingles(sh))
        # bucketed by BOTH probe-join keys: under Spark 4's
        # all-cluster-keys co-partition rule a band_sig-only bucketing
        # is not usable for the (band_sig, band_id) equi-join — the
        # planner falls back to a non-bucketed scan and re-shuffles the
        # lake side per batch (r13, pinned by the no-lake-Exchange walk
        # in tests/test_dedup.py)
        write_bucketed(
            bands,
            f"{index_name}_bands",
            ["band_sig", "band_id"],
            n_buckets,
            sort_cols=["band_sig", "band_id"],
            mode=mode,
        )
        write_bucketed(
            sh, f"{index_name}_shingles", "doc_id", n_buckets, mode=mode,
        )
    finally:
        sh.unpersist()


def append_dedup_index(
    docs: DataFrame,
    index_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_buckets: int = 8,
) -> None:
    """Per-batch index maintenance: append an ingested batch's bands and
    shingles to the stored index with the SAME bucket spec — each bucket
    accumulates files, the bucketing metadata stays valid, and every
    later probe still joins shuffle-free. ``n_buckets`` must match the
    ``build_dedup_index`` call. Run compaction on the same cadence as
    the lake's (many small per-batch files per bucket is the usual
    bucketed-append tax).

    MIGRATION NOTE (r13): the bands bucket spec changed from
    ``band_sig`` to ``(band_sig, band_id)``. Appending to an index
    built by an older build fails LOUDLY on Spark's bucket-spec
    mismatch check — rebuild once with ``build_dedup_index`` (a stale
    single-key index would otherwise silently re-shuffle the lake side
    on every probe, the regression the new spec removes)."""
    _write_dedup_index(
        docs, index_name, text_col, id_col, n, n_buckets, mode="append"
    )


def dedup_against_stored_index(
    new_docs: DataFrame,
    index_name: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """`dedup_against_index` against the PERSISTED bucketed index — the
    production per-batch path. Identical output contract: (doc_id_a =
    new doc, doc_id_b = indexed doc, jaccard >= threshold).

    Plan shape this buys (pinned in tests/test_dedup.py): the band
    probe joins on band_sig and the verify joins on doc_id — both
    bucket keys — so the stored tables satisfy the joins' clustered
    distribution straight off their file scans. Only the batch-derived
    frames shuffle; the measured lake-coupled term of the inline form
    (probe_incremental_dedup in tools/scale_probe_r6.py @ c2bc8cd) is
    gone from the shuffle graph. Ids must be disjoint from the indexed
    side, as in
    `dedup_against_index`.

    ``max_bucket`` is the flood cap, as in ``dedup_against_index``: band
    buckets holding more than this many docs on either side are dropped
    from the probe, bounding per-bucket pairs at max_bucket² and hence
    the candidate-id broadcast at O(capped pairs). The lake-side cap is
    a window over the bucketed scan's own clustering, so the zero
    lake-side Exchange property survives capping (plan-pinned). The
    batch shingle table is local-checkpointed, not persisted — blocks
    are released when the frame is GC'd instead of accumulating one
    session-lifetime cache entry per ingested batch.
    """
    spark = new_docs.sparkSession
    bands_old = spark.table(f"{index_name}_bands")
    sh_old = spark.table(f"{index_name}_shingles")

    sh_new = _shingle_table(new_docs, text_col, id_col, n).localCheckpoint(
        eager=False
    )
    bands_new = _lsh_bands(_signatures_from_shingles(sh_new))
    if max_bucket is not None:
        bands_new = _cap_band_buckets(bands_new, max_bucket)
        bands_old = _prune_and_cap_old_bands(
            bands_old, bands_new, max_bucket
        )
    cand = (
        bands_new.alias("a")
        .join(
            bands_old.alias("b"),
            (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.band_id") == F.col("b.band_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    ids = (
        cand.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    pruned = sh_new.unionByName(sh_old).join(
        F.broadcast(ids), "doc_id", "leftsemi"
    )
    return _jaccard_verify(cand, pruned, threshold)


def ngram_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    min_overlap: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Decontamination: flag TRAINING docs sharing >= min_overlap distinct
    n-gram shingles with any BENCHMARK doc (the pre-training hygiene step
    that keeps eval sets out of the corpus).

    Output: (doc_id, bench_doc_id, n_shared) per contaminated pair.

    Scale shape: the benchmark shingle set is small (eval sets are; the
    training corpus is not) — broadcast it, so the only pass over the
    training side is a broadcast hash join on the shingle hash followed by
    a pair-count aggregate. No training-side self-join ever happens.
    """
    t = _shingle_table(train, text_col, id_col, n)
    b = _shingle_table(benchmark, text_col, id_col, n).select(
        F.col("doc_id").alias("bench_doc_id"), F.col("s").alias("bs")
    )
    return (
        t.join(F.broadcast(b), t.s == b.bs)
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def keep_best_per_cluster(
    docs: DataFrame,
    labels: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-representative selection after cluster resolution: keep
    exactly one document per near-duplicate cluster — the highest-
    ``quality_col`` member, ties broken by smallest id — and flag the
    rest for dropping. Documents absent from ``labels`` (in no pair) are
    singleton clusters and always kept.

    This is the final decision step of a real dedup pipeline: pair
    generation (LSH) → cluster resolution (connected components) → THIS.
    Keeping "min doc_id per pair" instead over-deletes chains and keeps
    arbitrary-quality survivors; picking the best-quality member is what
    RefinedWeb/SlimPajama-style dedups do.

    Cost: one left join of the corpus against the (pairs-only, much
    smaller) label frame, then one per-cluster window. The window
    partitions on cluster_id — clusters are tiny (bounded by the near-dup
    neighborhood), so no skew concern even at corpus scale.

    Returns (doc_id, cluster_id, keep).
    """
    from pyspark.sql import Window

    lab = (
        docs.select(id_col, quality_col)
        .join(labels, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
            quality_col,
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    return (
        lab.withColumn("_rn", F.row_number().over(w))
        .select(
            id_col,
            "cluster_id",
            (F.col("_rn") == 1).alias("keep"),
        )
    )


def lsh_candidate_report(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """One-row calibration report for the MinHash-LSH index: how many
    candidate pairs the banding surfaces, how many survive exact Jaccard
    verification, and the resulting precision — the number that tells
    you whether the (bands, rows) configuration is wasting verification
    compute (precision → 0) or starving recall (candidates → 0) BEFORE
    a full dedup run over the corpus.

    Same single-pass cost structure as ``minhash_near_duplicates`` (the
    shingle and signature tables are shared); the report adds only two
    global counts. Returns (n_candidates, n_true, lsh_precision) with
    precision 6-dp rounded (0.0 when there are no candidates).

    Caching note: the shingle/signature/candidate persists below are
    INTENTIONALLY left for the session lifetime — the returned frame is
    lazy (an eager unpersist would force an action at plan-build time),
    and the default MEMORY_AND_DISK level is LRU-evicted under storage
    pressure, so the cache is bounded. Long-lived sessions running many
    unrelated queries can ``spark.catalog.clearCache()`` between
    batches. Same policy applies to ``graph.triangle_counts``,
    ``graph.personalized_pagerank_fixed_point``,
    ``similarity.silhouette_by_label`` and the ks-drift histogram.
    """
    shingles = _shingle_table(docs, text_col, id_col, n).persist()
    sig = _signatures_from_shingles(shingles).persist()
    cand = lsh_candidate_pairs(sig).persist()
    ver = _jaccard_verify(cand, shingles, threshold)
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nt = ver.agg(F.count(F.lit(1)).alias("n_true"))
    return nc.crossJoin(nt).select(
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_true").cast("long").alias("n_true"),
        F.when(
            F.col("n_candidates") > 0,
            F.round(
                F.col("n_true") / F.col("n_candidates").cast("double"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lsh_precision"),
    )
