from __future__ import annotations

import pytest

from datalakeingestion_spark.operators import dedup as dd
from datalakeingestion_spark.sources.fixtures import load_table

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents").cache()


@pytest.mark.smoke
def test_exact_duplicates_groups(spark):
    rows = [(1, "same text"), (2, "same text"), (3, "other")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.keep_doc_id: r.dup_count for r in dd.exact_duplicates(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_perfect_recall_on_planted_dups(spark, docs):
    """The fixture plants near-dup pairs with Jaccard >= 0.9; at that
    similarity the 4×4 banding miss probability is (1-j^4)^4 < 2% per pair
    — with the fixed md5 hash family the outcome is deterministic, and it
    is full recall."""
    truth = {
        (r.doc_id_a, r.doc_id_b)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    found = {
        (r.doc_id_a, r.doc_id_b)
        for r in dd.minhash_near_duplicates(docs, threshold=0.9).collect()
    }
    assert truth, "fixture should contain planted near-duplicates"
    assert found == truth


def test_minhash_output_is_verified_subset(spark, docs):
    # every emitted pair carries its TRUE jaccard (verify stage) >= threshold
    out = dd.minhash_near_duplicates(docs, threshold=0.5).collect()
    ngram = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    for r in out:
        assert r.doc_id_a < r.doc_id_b
        assert r.jaccard >= 0.5
        assert ngram[(r.doc_id_a, r.doc_id_b)] == r.jaccard


def test_simhash_pairs_are_high_jaccard(spark, docs):
    sh = {(r.doc_id_a, r.doc_id_b) for r in dd.simhash_near_duplicates(docs).collect()}
    truth = {
        (r.doc_id_a, r.doc_id_b)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert sh, "planted dups should collide within 3 simhash bits"
    assert sh <= truth  # hamming<=3 pairs are all true near-dups here


def test_simhash_banding_guard():
    with pytest.raises(ValueError, match="lossless"):
        dd.simhash_near_duplicates(None, max_hamming=5)


def test_signatures_shape(spark, docs):
    sig = dd.minhash_signatures(docs)
    assert sig.columns == ["doc_id"] + [f"mh{i}" for i in range(dd.MINHASH_PERMS)]
    row = sig.first()
    for i in range(dd.MINHASH_PERMS):
        assert 0 <= row[f"mh{i}"] < dd.MERSENNE_P


def test_connected_components_transitive_chain(spark):
    # chain 3-1-2 plus disjoint pair (5,4) plus triangle 6-7-8:
    # min-label must propagate TRANSITIVELY (3 reaches 1 via 2 hops)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4), (6, 7), (7, 8), (6, 8)],
        ["doc_id_a", "doc_id_b"],
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6}


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert dd.connected_components(pairs).count() == 0


def test_connected_components_string_ids(spark):
    # ids are any orderable type — the fixpoint test must not assume
    # numeric labels (a sum-based check would misread strings as empty)
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b")], ["doc_id_a", "doc_id_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.connected_components(pairs).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_connected_components_checkpoints_input_and_leaves_no_cache(spark):
    """r13: the pair input is eagerly checkpointed at loop entry (the
    caller's pair-generation lineage must not ride into every
    propagation round — measured 72 s of planning for an 11-pair graph
    under curation_pipeline_v3's lineage vs 2.8 s truncated), so
    (a) an expensive/side-effecting input executes EXACTLY ONCE, and
    (b) the loop's only persisted frame (edges) is released on return —
    no cache entries survive the call."""
    import pyspark.sql.functions as F

    spark.catalog.clearCache()
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        calls.add(1)
        return x

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4)], ["doc_id_a", "doc_id_b"]
    ).select(counted("doc_id_a").alias("doc_id_a"), "doc_id_b")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    # the doubled-edge checkpoint reads the input twice per row batch
    # (src and dst projections of the SAME union job), then every round
    # scans checkpoint blocks: the UDF must never run again after entry
    assert calls.value <= 6, f"pair input re-executed: {calls.value} calls"
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "connected_components left persisted frames behind"


def test_connected_components_raises_on_nonconvergence(spark, monkeypatch):
    # a 6-hop chain cannot converge in 2 rounds; silent wrong clusters
    # would split one component — must raise instead. Pin the DISTRIBUTED
    # loop: a graph this small normally takes the r13 local union-find
    # path, which has no convergence limit.
    monkeypatch.setattr(dd, "MAX_LOCAL_CC_EDGES", 0)
    chain = [(i, i + 1) for i in range(1, 8)]
    pairs = spark.createDataFrame(chain, ["doc_id_a", "doc_id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(pairs, max_iterations=2)


def test_connected_components_local_path_matches_distributed(spark, monkeypatch):
    """r13 size-adaptive solve: a small pair graph resolves on the driver
    (union-find over the checkpointed edge collect) — its labels must be
    IDENTICAL to the distributed fixpoint's on the same graph, for both
    variants, including ids of non-numeric type and a label set of more
    than 256 nodes. Timestamp and date ids run with the process in a
    non-UTC zone: the edge collect returns zone-aware instants, where
    ``collect()`` returns naive local datetimes, and a label shifted by
    the zone's offset would show as a mismatch."""
    import time
    from datetime import date, datetime

    t = [datetime(2024, 1, d, 10, 0, 0, 123456) for d in range(1, 6)]
    cases = [
        spark.createDataFrame(
            [(1, 2), (2, 3), (5, 4), (6, 7), (7, 8), (6, 8), (9, 9)],
            ["doc_id_a", "doc_id_b"],
        ),
        spark.createDataFrame(
            [("b", "c"), ("a", "b"), ("z", "z"), ("x", "y")],
            ["doc_id_a", "doc_id_b"],
        ),
        # 300 string ids in short chains of 5 (n0000-n0001-...-n0004, ...)
        spark.createDataFrame(
            [(f"n{i + 1:04d}", f"n{i:04d}") for i in range(300) if i % 5 != 4],
            ["doc_id_a", "doc_id_b"],
        ),
        spark.createDataFrame(
            [(t[1], t[2]), (t[0], t[1]), (t[4], t[3])],
            "doc_id_a timestamp, doc_id_b timestamp",
        ),
        spark.createDataFrame(
            [(date(2024, 3, 2), date(2024, 3, 1)), (date(2024, 7, 4), date(2024, 7, 5))],
            "doc_id_a date, doc_id_b date",
        ),
    ]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        assert time.localtime().tm_gmtoff != 0
        for pairs in cases:
            local = sorted(
                (r.doc_id, r.cluster_id)
                for r in dd.connected_components(pairs).collect()
            )
            local_star = sorted(
                (r.doc_id, r.cluster_id)
                for r in dd.connected_components_star(pairs).collect()
            )
            with monkeypatch.context() as m:
                m.setattr(dd, "MAX_LOCAL_CC_EDGES", -1)
                dist = sorted(
                    (r.doc_id, r.cluster_id)
                    for r in dd.connected_components(pairs).collect()
                )
                dist_star = sorted(
                    (r.doc_id, r.cluster_id)
                    for r in dd.connected_components_star(pairs).collect()
                )
            assert local and local == dist
            assert local_star == dist_star
    finally:
        monkeypatch.undo()
        time.tzset()


def test_star_contraction_matches_propagation(spark, docs):
    """connected_components_star is an algorithmic twin of
    connected_components — identical labels on the real minhash pair
    graph."""
    pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
    a = sorted(
        (r.doc_id, r.cluster_id) for r in dd.connected_components(pairs).collect()
    )
    b = sorted(
        (r.doc_id, r.cluster_id)
        for r in dd.connected_components_star(pairs).collect()
    )
    assert a and a == b


def test_star_contraction_deep_chain(spark):
    """A 512-node path graph (diameter 511): label propagation without
    pointer jumping would need ~511 rounds; star contraction converges in
    O(log n) — 12 iterations is ample headroom, and every node must label
    to the chain head."""
    import pyspark.sql.functions as F

    pairs = spark.range(511).select(
        F.col("id").alias("doc_id_a"), (F.col("id") + 1).alias("doc_id_b")
    )
    out = dd.connected_components_star(pairs, max_iterations=12)
    assert out.count() == 512
    assert out.filter(F.col("cluster_id") != 0).count() == 0


def test_star_contraction_multi_component_and_empty(spark):
    import pyspark.sql.functions as F

    rows = [(1, 2), (2, 3), (10, 11), (20, 20)]  # self-loop ignored
    pairs = spark.createDataFrame(rows, ["doc_id_a", "doc_id_b"])
    got = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components_star(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    empty = pairs.filter(F.lit(False))
    assert dd.connected_components_star(empty).count() == 0


def test_jaccard_prefix_join_lossless_vs_bruteforce(spark, docs):
    """Prefix filtering must be LOSSLESS: identical pair set + values to
    the all-pairs shingle join at the same threshold."""
    brute = sorted(
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    )
    pref = sorted(
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in dd.jaccard_prefix_join(docs, threshold=0.5, n=3).collect()
    )
    assert brute and pref == brute


def test_jaccard_prefix_join_exact_ceiling_boundary(spark):
    """Docs engineered so t*sz lands exactly on an integer (the float-ceil
    trap: ceil(0.6*5 in fp) = 4 shrinks the prefix and drops pairs).
    Identical 5-token docs must pair at threshold 0.6."""
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.doc_id_a, r.doc_id_b) for r in
           dd.jaccard_prefix_join(df, threshold=0.6, n=1).collect()}
    assert (1, 2) in out
    assert all(3 not in p for p in out)


def test_dedup_against_index_matches_symmetric_restriction(spark, docs):
    """Asymmetric batch-vs-lake pairs must equal the full symmetric pair
    set restricted to cross-side pairs (one endpoint per side)."""
    import pyspark.sql.functions as F

    new = docs.filter(F.col("doc_id") >= 400)
    old = docs.filter(F.col("doc_id") < 400)
    asym = {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in dd.dedup_against_index(new, old, threshold=0.5).collect()
    }
    full = dd.minhash_near_duplicates(docs, threshold=0.5).collect()
    cross = {
        # canonical full-pair order is a<b; re-orient to (new, old)
        (max(r.doc_id_a, r.doc_id_b), min(r.doc_id_a, r.doc_id_b), r.jaccard)
        for r in full
        if (r.doc_id_a >= 400) != (r.doc_id_b >= 400)
    }
    assert asym == cross
    assert asym, "fixture should contain cross-side near-duplicates"


def test_cdc_chunks_survive_prefix_insertion(spark):
    """The CDC claim: inserting tokens at the FRONT of a copied doc must
    not destroy chunk matches — boundaries re-sync at the next boundary
    token (fixed windows would shift every chunk)."""
    base = " ".join(f"tok{j}x" for j in range(64))
    rows = [
        (1, base),
        (2, "inserted preamble words here " + base),
        (3, " ".join(f"unrelated{j}" for j in range(64))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dd.cdc_shared_chunks(df, avg_chunk=8).collect()}
    assert out[3].n_shared_chunks == 0
    # the copy shares everything from the first re-synced boundary on
    assert out[2].shared_frac >= 0.5, out[2]
    assert out[1].n_shared_chunks >= 1


def test_containment_join_finds_planted_quote(spark):
    """An excerpt fully contained in a longer doc must pair with
    containment ~1.0 even though Jaccard is far below any dedup
    threshold; unrelated docs must not pair."""
    quote = " ".join(f"q{j}" for j in range(12))
    article = quote + " " + " ".join(f"body{j}" for j in range(80))
    rows = [
        (1, quote),
        (2, article),
        (3, " ".join(f"z{j}" for j in range(30))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.doc_id_small, r.doc_id_large): r.containment
           for r in dd.containment_join(df, threshold=0.8, n=3).collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert all(3 not in k for k in got)
    # the symmetric pair set at the same threshold misses it
    jac = dd.ngram_jaccard_pairs(df, threshold=0.8).collect()
    assert not any({r.doc_id_a, r.doc_id_b} == {1, 2} for r in jac)


def test_winnowing_guarantee_on_planted_match(spark):
    """The winnowing guarantee: a verbatim run of >= w+k-1 tokens shared
    between two otherwise-different docs must produce a shared
    fingerprint (here k=4, w=4 -> any 7-token verbatim overlap)."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    rows = [
        (1, "one two three " + shared + " four five six"),
        (2, "seven eight nine ten " + shared + " eleven"),
        (3, " ".join(f"z{j}" for j in range(30))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_id_a, r.doc_id_b): r.n_shared_fp
        for r in dd.winnowing_fingerprint_pairs(
            df, k=4, w=4, min_shared=1
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert all(3 not in p for p in got)


def test_cdc_chunks_partition_the_token_stream(spark, docs):
    """Structural invariant: every doc's CDC chunks, joined in order,
    reconstruct its normalized text exactly — chunking moves boundaries,
    never drops or duplicates tokens."""
    import pyspark.sql.functions as F

    from datalakeingestion_spark.functions.hashing import portable_hash32
    from datalakeingestion_spark.functions.text import normalized_text, tokens

    toks = tokens("text")
    marked = F.array_join(
        F.transform(
            toks,
            lambda t: F.when(
                F.pmod(portable_hash32(t), F.lit(8)) == 0,
                F.concat(F.lit("#"), t),
            ).otherwise(t),
        ),
        " ",
    )
    chunks = F.filter(
        F.transform(F.split(marked, "#"), lambda c: F.trim(c)),
        lambda c: c != F.lit(""),
    )
    bad = (
        docs.select(
            normalized_text("text").alias("norm"),
            F.array_join(chunks, " ").alias("rejoined"),
        )
        .filter(F.col("norm") != F.col("rejoined"))
        .count()
    )
    assert bad == 0


def test_lsh_candidate_report_degenerate_corpora(spark):
    from datalakeingestion_spark.operators.dedup import lsh_candidate_report

    # identical docs: the banding must surface the pair and it must
    # verify -> precision 1.0
    twins = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    [r] = lsh_candidate_report(twins, threshold=0.5).collect()
    assert r["n_candidates"] >= 1
    assert r["n_true"] == r["n_candidates"]
    assert r["lsh_precision"] == 1.0

    # fully disjoint docs: zero candidates exercises the 0-division guard
    disjoint = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee ff gg hh"),
            (2, "ii jj kk ll mm nn oo pp"),
        ],
        "doc_id long, text string",
    )
    [r2] = lsh_candidate_report(disjoint, threshold=0.5).collect()
    assert r2["n_candidates"] == 0
    assert r2["n_true"] == 0
    assert r2["lsh_precision"] == 0.0


def test_lsh_hot_band_candidates_exact_and_bounded_by_exact_dedup(spark):
    """Adversarial band skew: 60% of the corpus is ONE identical text, so
    one band bucket holds >half the docs. Two facts pinned:

    1. ``lsh_candidate_pairs`` emits each qualifying pair EXACTLY once
       even though identical docs agree on ALL 4 bands (first-matching-
       band dedup) — the hot bucket costs C(m,2) pairs, never
       4 * C(m,2).
    2. The 100-TB mitigation is STRUCTURAL, not AQE luck: running exact
       dedup first (curation stage 1) collapses the identical group to
       one keeper, so the LSH stage sees C(distinct,2)-bounded
       candidates — the quadratic term is gone before the band join.
    """
    from datalakeingestion_spark.operators.dedup import (
        exact_duplicates,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    hot = [(i, "the same hot document text repeated everywhere") for i in range(60)]
    cold = [(1000 + i, f"distinct cold document number {i} with words {i*7}")
            for i in range(40)]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")

    sig = minhash_signatures(docs)
    cand = lsh_candidate_pairs(sig)
    n_hot = len(hot)
    hot_pairs = n_hot * (n_hot - 1) // 2
    cnt = cand.count()
    # every hot pair exactly once; template-generated cold docs are
    # legitimately similar to EACH OTHER, so allow up to the full cold
    # pair budget on top — but never another hot-sized quadratic term
    cold_budget = (len(cold) + 1) * len(cold) // 2
    assert cnt >= hot_pairs
    assert cnt <= hot_pairs + cold_budget, cnt
    # no pair appears twice (the .distinct()-free dedup is exact)
    assert cand.distinct().count() == cnt

    # structural mitigation: exact-dedup-first leaves one keeper for the
    # hot text -> candidate volume collapses below the cold-corpus bound
    from pyspark.sql import functions as SF

    keepers = exact_duplicates(docs).select(
        SF.col("keep_doc_id").alias("doc_id")
    ).join(docs, "doc_id")
    cand2 = lsh_candidate_pairs(minhash_signatures(keepers))
    n_keep = keepers.count()
    assert n_keep == 1 + len(cold)
    assert cand2.count() <= n_keep * (n_keep - 1) // 2
    # the hot group's quadratic term (1770 pairs) is structurally gone
    assert cand2.count() < hot_pairs / 2


def test_lsh_max_bucket_cap(spark):
    """The hot-bucket cap: flooded band buckets are excluded from pair
    generation (cost bound C(max_bucket, 2) per bucket); pairs that ALSO
    share an uncapped band still surface via that band."""
    from datalakeingestion_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    hot = [(i, "flooded boilerplate text shared by many documents")
           for i in range(30)]
    pair = [(500, "a genuinely near duplicate document body one"),
            (501, "a genuinely near duplicate document body one")]
    docs = spark.createDataFrame(hot + pair, "doc_id long, text string")
    sig = minhash_signatures(docs)
    uncapped = lsh_candidate_pairs(sig).count()
    assert uncapped >= 30 * 29 // 2
    capped = lsh_candidate_pairs(sig, max_bucket=10)
    got = {(r.doc_id_a, r.doc_id_b) for r in capped.collect()}
    # the flood is gone; the small identical pair (bucket size 2) stays
    assert (500, 501) in got
    assert all(a >= 500 for a, _ in got), got


def test_substring_dup_stats_interval_union(spark):
    """Planted spans pin the Lee-et-al span-dedup math: a shared 8-gram
    covers exactly its 8 tokens; two OVERLAPPING shared 8-grams merge
    into one 9-token island (interval union, not 16); short and empty
    docs report zeros / NULL fraction."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),        # shares a b..h with doc 2
            (2, "a b c d e f g h x y"),
            (3, "only six tokens right here now"),  # < 8 tokens
            (4, "p q r s t u v w k m n"),      # shares 9-gram with doc 5
            (5, "p q r s t u v w k zz"),
            (6, ""),                            # empty
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["dup_spans"], r["covered_tokens"],
            r["dup_fraction"],
        )
        for r in dd.substring_dup_stats(docs, n=8).collect()
    }
    assert got[1] == (10, 1, 8, 0.8)
    assert got[2] == (10, 1, 8, 0.8)
    assert got[3] == (6, 0, 0, 0.0)
    # two overlapping dup spans -> ONE 9-token island, not 16 tokens
    assert got[4] == (11, 2, 9, round(9 / 11, 6))
    assert got[5] == (10, 2, 9, 0.9)
    assert got[6] == (0, 0, 0, None)


def test_substring_dup_vs_lake_asymmetric(spark):
    """Dedup-at-the-door semantics: a batch doc's span is duplicated iff
    it exists in the LAKE or in ANOTHER batch doc — lake-internal
    duplication is not re-reported, and a batch doc sharing only with
    itself (repeat inside one doc) does not count."""
    lake = spark.createDataFrame(
        [
            (1, "a b c d e f g h lake tail one"),
            (2, "a b c d e f g h lake tail two"),  # lake-internal dup
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "a b c d e f g h fresh suffix"),   # dup vs lake
            (11, "p q r s t u v w batch only x"),   # dup vs batch doc 12
            (12, "p q r s t u v w batch only y"),
            (13, "k k k k k k k k k k"),             # self-repeat only
            (14, "totally new words never seen anywhere at all once"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_spans"], r["covered_tokens"])
        for r in dd.substring_dup_vs_lake(batch, lake, n=8).collect()
    }
    # only batch docs are reported
    assert set(got) == {10, 11, 12, 13, 14}
    assert got[10] == (10, 1, 8)   # span "a..h" exists in the lake
    assert got[11][1] >= 1 and got[11][2] >= 8  # shared with doc 12
    assert got[12][1] >= 1
    # doc 13's 8-gram "k k k k k k k k" repeats only WITHIN itself:
    # min(doc_id) == max(doc_id) and it's not in the lake -> no dup
    assert got[13] == (10, 0, 0)
    assert got[14] == (9, 0, 0)


def test_lsh_hot_band_salvage_retains_cluster_recall(spark):
    """Planted adversarial band flood: 48 near-identical docs (38 of 39
    shingles shared → one giant band bucket per matching band). The
    DROP cap loses the flood entirely; the SALVAGE path (salt groups +
    rep chain) must (a) keep every flood doc in ONE connected component
    of the verified pairs, (b) generate a small fraction of the
    uncapped candidates (bounded cost), (c) leave cold-bucket behavior
    byte-identical to the uncapped path."""
    from datalakeingestion_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_salvaged,
        minhash_near_duplicates,
        minhash_near_duplicates_salvaged,
        minhash_signatures,
    )

    base = " ".join(f"w{i}" for i in range(40))
    flood = [(i, f"{base} tail{i}") for i in range(48)]
    pair = [
        (500, "a genuinely near duplicate document body one"),
        (501, "a genuinely near duplicate document body one"),
    ]
    lone = [(600, "completely unrelated text about something else here")]
    docs = spark.createDataFrame(
        flood + pair + lone, "doc_id long, text string"
    )
    sig = minhash_signatures(docs).persist()

    n_uncapped = lsh_candidate_pairs(sig).count()
    assert n_uncapped >= 48 * 47 // 2  # the flood is all-pairs uncapped

    salvaged_cand = lsh_candidate_pairs_salvaged(sig, max_bucket=8)
    n_salvaged = salvaged_cand.count()
    # bounded cost: ~6 groups of ~8 → 6·C(8,2)+5 chain ≈ 170 ≪ 1128
    assert n_salvaged < 0.4 * n_uncapped, (n_salvaged, n_uncapped)

    def components(pairs_df):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs_df.collect():
            a, b = find(r["doc_id_a"]), find(r["doc_id_b"])
            if a != b:
                parent[a] = b
        return parent, find

    # salvage: flood docs form ONE component of the VERIFIED pairs
    verified = minhash_near_duplicates_salvaged(
        docs, threshold=0.5, max_bucket=8
    )
    parent, find = components(verified)
    roots = {find(i) for i in range(48)}
    assert len(roots) == 1, f"flood shattered into {len(roots)} components"
    # the cold-bucket near-dup pair still surfaces, exact-verified
    got = {(r.doc_id_a, r.doc_id_b): r.jaccard for r in verified.collect()}
    assert (500, 501) in got and got[(500, 501)] == 1.0
    # the unrelated doc never chains into anything
    assert all(600 not in p for p in got)

    # drop cap: the flood does NOT survive as one component (salvage
    # adds real recall, not just cost)
    dropped = dd._jaccard_verify(
        lsh_candidate_pairs(sig, max_bucket=8),
        dd._shingle_table(docs, "text", "doc_id", 3),
        0.5,
    )
    parent_d, find_d = components(dropped)
    seen = {i for i in range(48) if i in parent_d}
    roots_d = {find_d(i) for i in seen} if seen else set()
    assert len(seen) < 48 or len(roots_d) > 1, (
        "drop cap unexpectedly kept the flood connected"
    )

    # guard rails
    with pytest.raises(ValueError, match="max_bucket"):
        lsh_candidate_pairs_salvaged(sig, max_bucket=1)
    sig.unpersist()


def test_stored_dedup_index_matches_inline_and_skips_lake_shuffle(
    spark, tmp_path
):
    """dedup_against_stored_index must (a) return exactly the inline
    dedup_against_index result, and (b) read the persisted band/shingle
    tables off their bucketed scans so the lake side never re-shuffles —
    each stored FileScan reaches its join with no intervening Exchange,
    and the stored scans are bucketed."""
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.dedup import (
        build_dedup_index,
        dedup_against_index,
        dedup_against_stored_index,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    lake = docs.filter(F.col("doc_id") % 3 != 0)
    # batch: fresh ids; every third is a near-dup of a lake doc
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" tail")),
        )
        .otherwise(F.reverse("text"))
        .alias("text"),
    )

    for t in ("dix_bands", "dix_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    build_dedup_index(lake, "dix", n_buckets=4)
    try:
        _run_stored_index_assertions(spark, batch, lake, F)
    finally:
        for t in ("dix_bands", "dix_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _assert_bucketed_scan_feeds_join_unshuffled(plan: str, table: str):
    """Every FileScan of the stored ``table`` must reach its first Join
    ancestor with no intervening Exchange — the direct textual pin that
    the lake side never re-shuffles. (The former stored-vs-inline
    exchange COUNT comparison went meaningless in r13: the inline path
    lazily localCheckpoints its candidate/pruned frames, which truncates
    its plan text, so the inline count collapsed below the stored one.
    Same ancestor walk as the substring-index test.)"""
    import re

    lines = plan.split("\n")

    def depth(line):
        m = re.search(r"[A-Za-z*]", line)
        return m.start() if m else len(line)

    scan_idxs = [
        i for i, l in enumerate(lines) if table in l and "FileScan" in l
    ]
    assert scan_idxs, plan
    for scan_idx in scan_idxs:
        cur = depth(lines[scan_idx])
        for l in reversed(lines[:scan_idx]):
            d = depth(l)
            if d < cur:
                cur = d
                if "Join" in l:
                    break
                assert "Exchange" not in l, plan
        else:  # pragma: no cover - the scan must sit under a join
            raise AssertionError(plan)


def _run_stored_index_assertions(spark, batch, lake, F):
    from datalakeingestion_spark.operators.dedup import (
        dedup_against_index,
        dedup_against_stored_index,
    )

    want = {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in dedup_against_index(batch, lake, 0.3).collect()
    }
    got_df = dedup_against_stored_index(batch, "dix", 0.3)
    got = {(r.doc_id_a, r.doc_id_b, r.jaccard) for r in got_df.collect()}
    assert got == want and len(got) > 0

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stored_plan = (
            dedup_against_stored_index(batch, "dix", 0.3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "Bucketed: true" in stored_plan, stored_plan
    _assert_bucketed_scan_feeds_join_unshuffled(stored_plan, "dix_bands")
    _assert_bucketed_scan_feeds_join_unshuffled(stored_plan, "dix_shingles")


def test_stored_dedup_index_flood_cap_bounds_candidates(spark):
    """A near-identical flood batch probing a hot index bucket must be
    boundable: with max_bucket set, (a) flood pairs are excluded while
    normal near-dup pairs still match, (b) the capped stored plan adds
    no lake-side Exchange (the cap is a window over the bucketed scan's
    own clustering), and (c) stored and inline paths agree under the
    same cap."""
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.dedup import (
        build_dedup_index,
        dedup_against_index,
        dedup_against_stored_index,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    lake = docs.limit(60).localCheckpoint()
    # hot bucket: 30 near-identical clones of one lake doc (distinct
    # tails keep them non-byte-identical, surviving exact dedup);
    # plus one ordinary near-dup probe of a different lake doc
    seed = lake.filter(F.col("doc_id") % 5 == 1).limit(1)
    flood = (
        seed.select(F.col("text").alias("t"))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(30))).alias("i"), "t"
        )
        .select(
            (F.lit(2_000_000) + F.col("i")).alias("doc_id"),
            F.concat(F.col("t"), F.lit(" v"), F.col("i") % 7).alias("text"),
        )
    )
    normal = (
        lake.filter(F.col("doc_id") % 5 == 2)
        .limit(1)
        .select(
            F.lit(3_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
    )
    batch = flood.unionByName(normal).localCheckpoint()

    for t in ("fix_bands", "fix_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    build_dedup_index(lake, "fix", n_buckets=4)
    try:
        uncapped = dedup_against_stored_index(batch, "fix", 0.3)
        capped = dedup_against_stored_index(
            batch, "fix", 0.3, max_bucket=8
        )
        got_uncapped = {
            (r.doc_id_a, r.doc_id_b) for r in uncapped.collect()
        }
        got_capped = {(r.doc_id_a, r.doc_id_b) for r in capped.collect()}
        # flood pairs dominate uncapped; capped keeps the normal probe
        # but drops the flooded bucket's pairs
        assert len(got_uncapped) > 30
        assert len(got_capped) < len(got_uncapped)
        assert any(a == 3_000_000 for a, _ in got_capped)
        assert not any(2_000_000 < a <= 2_000_030 for a, _ in got_capped)

        # inline path under the same cap agrees exactly
        inline_capped = {
            (r.doc_id_a, r.doc_id_b)
            for r in dedup_against_index(
                batch, lake, 0.3, max_bucket=8
            ).collect()
        }
        assert got_capped == inline_capped

        # the capped STORED plan must keep the zero lake-side-Exchange
        # property: the cap window's partition keys match the stored
        # sort spec and the lake prune is a broadcast semi join, so the
        # bucketed scans still feed their joins unshuffled (pinned
        # directly per scan — cross-plan exchange counts went
        # meaningless once the inline path's plan text became
        # checkpoint-truncated)
        threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p_cap = (
                dedup_against_stored_index(batch, "fix", 0.3, max_bucket=8)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", threshold
            )
        assert "Bucketed: true" in p_cap
        _assert_bucketed_scan_feeds_join_unshuffled(p_cap, "fix_bands")
        _assert_bucketed_scan_feeds_join_unshuffled(p_cap, "fix_shingles")
    finally:
        for t in ("fix_bands", "fix_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_dedup_index_preserves_bucketing_and_results(spark):
    """Per-batch index maintenance: after append_dedup_index, a probe
    must see lake₁ ∪ lake₂ exactly as if the index were rebuilt, and
    the plan must still read bucketed scans (append with the same
    bucket spec keeps the bucketing metadata valid)."""
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        dedup_against_index,
        dedup_against_stored_index,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    lake1 = docs.filter(F.col("doc_id") % 3 == 1)
    lake2 = docs.filter(F.col("doc_id") % 3 == 2)
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )

    for t in ("aix_bands", "aix_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    build_dedup_index(lake1, "aix", n_buckets=4)
    append_dedup_index(lake2, "aix", n_buckets=4)
    try:
        want = {
            (r.doc_id_a, r.doc_id_b, r.jaccard)
            for r in dedup_against_index(
                batch, lake1.unionByName(lake2), 0.3
            ).collect()
        }
        got_df = dedup_against_stored_index(batch, "aix", 0.3)
        got = {
            (r.doc_id_a, r.doc_id_b, r.jaccard) for r in got_df.collect()
        }
        assert got == want and len(got) > 0
        # matches from BOTH the built and the appended halves
        mods = {b % 3 for (_, b, _) in got}
        assert mods == {1, 2}, mods
        plan = (
            got_df._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in plan, plan
    finally:
        for t in ("aix_bands", "aix_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_blocked_similarity_pairs_semantics(spark):
    """Record-linkage blocking: pairs only form INSIDE a block (same
    country), the Levenshtein gate is exact, and NULL block keys are
    governed by an explicit policy — dropped by default (a key-less
    record is an unbounded flood in disguise), paired together under
    null_blocks='match'."""
    from datalakeingestion_spark.operators.linkage import (
        blocked_similarity_pairs,
    )

    rows = [
        (1, "US", "acme corp"),
        (2, "US", "acme corq"),      # edit 1, same block -> pair
        (3, "DE", "acme corp"),      # identical name, OTHER block -> no
        (4, "US", "zenith widgets"), # far -> no
        (5, None, "lone star"),
        (6, None, "lone scar"),      # edit 1, both NULL block
    ]
    df = spark.createDataFrame(rows, "id long, country string, name string")

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"]): r["edit_dist"]
            for r in blocked_similarity_pairs(
                df, "id", ["country"], "name", max_edit=2, **kw
            ).collect()
        }

    assert pairs() == {(1, 2): 1}  # default: NULL-keyed records excluded
    assert pairs(null_blocks="match") == {(1, 2): 1, (5, 6): 1}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="block"):
        blocked_similarity_pairs(df, "id", [], "name")
    with _pytest.raises(ValueError, match="max_edit"):
        blocked_similarity_pairs(df, "id", ["country"], "name", max_edit=-1)
    with _pytest.raises(ValueError, match="null_blocks"):
        blocked_similarity_pairs(
            df, "id", ["country"], "name", null_blocks="ignore"
        )
    with _pytest.raises(ValueError, match="max_block"):
        blocked_similarity_pairs(
            df, "id", ["country"], "name", max_block=1
        )


def _components(pairs):
    """Union-find over (id_a, id_b) pairs — tiny test helper."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return len({find(x) for x in parent})


def test_blocked_similarity_pairs_flood_bounded_and_connected(spark):
    """Planted hot block: one country holds 50% of the records, all
    near-identical. Unbounded cost is C(60,2)=1770 pairs; with
    max_block/salt_target the candidate count collapses to ~linear in
    the flood size, yet the flood still resolves to ONE connected
    component (within-group pairs + the representative chain), and cold
    blocks are untouched."""
    from datalakeingestion_spark.operators.linkage import (
        blocked_similarity_pairs,
    )

    flood = [(i, "US", f"acme corp {i % 10}") for i in range(60)]
    cold = [(100, "DE", "zen gmbh"), (101, "DE", "zen gmbi"),
            (102, "FR", "solo sarl")]
    df = spark.createDataFrame(
        flood + cold, "id long, country string, name string"
    )
    unbounded = blocked_similarity_pairs(
        df, "id", ["country"], "name", max_edit=3
    ).collect()
    bounded = blocked_similarity_pairs(
        df, "id", ["country"], "name", max_edit=3,
        max_block=8, salt_target=8,
    ).collect()
    n_unbounded = sum(1 for r in unbounded if r["country"] == "US")
    n_bounded = sum(1 for r in bounded if r["country"] == "US")
    assert n_unbounded == 1770  # C(60, 2): every flood pair matches
    # cost: ceil(60/8)=8 groups of ~7-8 -> ~8*C(8,2)+7 chain = ~231 max
    assert n_bounded <= 8 * 28 + 7
    assert n_bounded >= 59  # at least spanning the flood
    # recall shape: the flood is ONE component under salvage
    assert _components(
        [(r["id_a"], r["id_b"]) for r in bounded if r["country"] == "US"]
    ) == 1
    # cold blocks identical under both modes
    assert {
        (r["id_a"], r["id_b"]) for r in unbounded if r["country"] != "US"
    } == {(r["id_a"], r["id_b"]) for r in bounded if r["country"] != "US"}


def test_weighted_linkage_pairs_score_and_null_field(spark):
    """Fellegi-Sunter-style weighted multi-field score: integer
    agreement/disagreement weights summed per pair, NULL fields
    contribute 0 (no evidence), threshold gates the output."""
    from datalakeingestion_spark.operators.linkage import (
        FieldWeight,
        weighted_linkage_pairs,
    )

    rows = [
        # id, country, seg, name, phone
        (1, "US", "A", "acme corp", "555-123"),
        (2, "US", "A", "acme corq", "555-123"),  # name~ +24, phone= +5
        (3, "US", "A", "acme corp", None),       # name= +24, phone NULL 0
        (4, "US", "A", "widgets ltd", "999-000"),
        (5, "US", "B", "acme corp", "555-123"),  # other seg: no pair w/ 1
    ]
    df = spark.createDataFrame(
        rows, "id long, country string, seg string, name string, phone string"
    )
    fields = [
        FieldWeight("name", max_edit=2, agree=24, disagree=-6),
        FieldWeight("phone", max_edit=0, agree=5, disagree=-1),
    ]
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in weighted_linkage_pairs(
            df, "id", ["country", "seg"], fields, min_score=20
        ).collect()
    }
    # (1,2): 24+5=29; (1,3): 24+0=24; (2,3): 24+0=24;
    # (1,4)/(2,4)/(3,4): -6 + (-1 or 0) < 20; 5 blocked away from 1.
    assert got == {(1, 2): 29, (1, 3): 24, (2, 3): 24}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="field"):
        weighted_linkage_pairs(df, "id", ["country"], [], 0)


def test_substring_stored_index_matches_inline_and_skips_lake_shuffle(
    spark,
):
    """substring_dup_vs_stored_index must (a) return exactly the inline
    substring_dup_vs_lake result, (b) read the persisted gram table off
    its bucketed scan (no lake-side Exchange on the semi-join), and
    (c) keep matching after a per-batch append extends the index."""
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.dedup import (
        append_substring_index,
        build_substring_index,
        substring_dup_vs_lake,
        substring_dup_vs_stored_index,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    lake = docs.filter(F.col("doc_id") % 3 == 1)
    lake2 = docs.filter(F.col("doc_id") % 3 == 2)  # later-appended batch
    # batch: fresh ids; half verbatim copies of lake docs (guaranteed
    # span hits), half reversed token order (gram misses)
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat_ws(" ", F.reverse(F.split("text", " "))),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    n = 8
    spark.sql("DROP TABLE IF EXISTS gix_grams")
    build_substring_index(lake, "gix", n=n, n_buckets=4)
    try:
        def rows(df):
            return {
                (
                    r["doc_id"], r["n_tokens"], r["dup_spans"],
                    r["covered_tokens"], r["dup_fraction"],
                )
                for r in df.collect()
            }

        want = rows(substring_dup_vs_lake(batch, lake, n=n))
        got_df = substring_dup_vs_stored_index(batch, "gix", n=n)
        got = rows(got_df)
        assert got == want
        assert any(r[2] > 0 for r in got)  # real span hits present

        # plan: stored gram scan is bucketed and never exchanges — with
        # broadcast disabled the only Exchanges are batch-derived
        threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                substring_dup_vs_stored_index(batch, "gix", n=n)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", threshold
            )
        assert "Bucketed: true" in plan, plan
        # the stored gram scan must feed its semi-join WITHOUT an
        # Exchange: walk up the plan tree from the FileScan through its
        # strictly shallower-indented ancestor lines and require no
        # Exchange BEFORE the first Join ancestor (everything above the
        # join is batch-sized downstream work that may shuffle freely —
        # a per-bucket Sort below the join is fine and expected)
        import re

        lines = plan.split("\n")

        def depth(line):
            m = re.search(r"[A-Za-z*]", line)
            return m.start() if m else len(line)

        scan_idx = next(
            i
            for i, l in enumerate(lines)
            if "gix_grams" in l and "FileScan" in l
        )
        cur = depth(lines[scan_idx])
        for l in reversed(lines[:scan_idx]):
            d = depth(l)
            if d < cur:
                cur = d
                if "Join" in l:
                    break
                assert "Exchange" not in l, plan
        else:  # pragma: no cover - the scan must sit under a join
            raise AssertionError(plan)

        # append path: batch-2 grams extend the index; probe equals the
        # inline form against the UNION lake
        append_substring_index(lake2, "gix", n=n, n_buckets=4)
        want2 = rows(
            substring_dup_vs_lake(batch, lake.unionByName(lake2), n=n)
        )
        got2 = rows(substring_dup_vs_stored_index(batch, "gix", n=n))
        assert got2 == want2
        assert got2 != got  # the appended lake half changed coverage
    finally:
        spark.sql("DROP TABLE IF EXISTS gix_grams")


def test_linkage_salt_target_without_max_block_raises(spark):
    """salt_target with no max_block must raise, not silently run the
    unbounded quadratic path while the caller believes the flood bound
    is active."""
    from datalakeingestion_spark.operators.linkage import (
        blocked_similarity_pairs,
    )

    df = spark.createDataFrame(
        [(1, "x", "a"), (2, "x", "a")], "rid long, blk string, name string"
    )
    with pytest.raises(ValueError, match="salt_target requires max_block"):
        blocked_similarity_pairs(df, "rid", ["blk"], "name", salt_target=8)


# ---------------------------------------------------------------------------
# golden_records (survivorship)
# ---------------------------------------------------------------------------


def test_golden_records_survivorship_rules(spark):
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.linkage import golden_records

    rows = [
        # entity 1: 'Robert' and 'Roberta' (len 7 ties) -> lexicographic
        # min 'Robert '? no — 'Robert' is len 6; plant a real tie:
        (1, "Roberta", 10.0, 5),
        (1, "Robertz", 99.0, 3),
        (1, "Bob", 50.0, 4),
        # entity 2: singleton passes through
        (2, "Ann", 7.0, 9),
    ]
    df = spark.createDataFrame(
        rows, "entity_id int, name string, bal double, nk int"
    )
    out = {
        r["entity_id"]: (
            r["n_members"], r["golden_name"], r["bal"], r["nk"]
        )
        for r in golden_records(
            df, "entity_id", "name", max_cols=("bal",), min_cols=("nk",)
        ).collect()
    }
    # longest names are the 7-char pair; lexicographic min of those wins
    assert out[1] == (3, "Roberta", 99.0, 3)
    assert out[2] == (1, "Ann", 7.0, 9)


def test_match_against_blocks_and_nulls(spark):
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.linkage import (
        FieldWeight,
        match_against,
    )

    batch = spark.createDataFrame(
        [
            (100, "B1", "alpha"),   # matches ref 1 (same block, same name)
            (101, "B1", "zzzzz"),   # same block, name disagrees -> below min
            (102, "B2", "alpha"),   # different block: never pairs with ref 1
            (103, None, "alpha"),   # NULL block key -> never pairs
        ],
        "id int, blk string, name string",
    )
    ref = spark.createDataFrame(
        [(1, "B1", "alpha"), (2, "B1", "alpho")],
        "id int, blk string, name string",
    )
    out = match_against(
        batch, ref, "id", "id", ["blk"],
        [FieldWeight("name", 1, 10, -5)], min_score=10,
    )
    got = {(r["id_a"], r["id_b"]): r["score"] for r in out.collect()}
    # 100 matches BOTH ref 1 (exact) and ref 2 (edit distance 1)
    assert got == {(100, 1): 10, (100, 2): 10}


def test_golden_records_keeps_all_null_name_clusters(spark):
    from datalakeingestion_spark.operators.linkage import golden_records

    df = spark.createDataFrame(
        [(1, None, 5.0), (1, None, 7.0), (2, "Ann", 1.0)],
        "entity_id int, name string, bal double",
    )
    out = {
        r["entity_id"]: (r["n_members"], r["golden_name"], r["bal"])
        for r in golden_records(
            df, "entity_id", "name", max_cols=("bal",)
        ).collect()
    }
    # the all-NULL-name entity survives with a NULL golden name
    assert out[1] == (2, None, 7.0)
    assert out[2] == (1, "Ann", 1.0)


def test_match_against_rejects_empty_blocking(spark):
    import pytest

    from datalakeingestion_spark.operators.linkage import (
        FieldWeight,
        match_against,
    )

    df = spark.createDataFrame([(1, "a", "x")], "id int, blk string, name string")
    with pytest.raises(ValueError, match="block column"):
        match_against(df, df, "id", "id", [], [FieldWeight("name", 0, 1, -1)], 1)


def test_golden_records_rejects_reserved_column_collisions(spark):
    import pytest

    from datalakeingestion_spark.operators.linkage import golden_records

    df = spark.createDataFrame(
        [(1, "Ann", 3)], "entity_id int, name string, __maxlen int"
    )
    with pytest.raises(ValueError, match="__maxlen"):
        golden_records(df, "entity_id", "name")
    df2 = spark.createDataFrame(
        [(1, "Ann", 3)], "entity_id int, name string, n_members int"
    )
    with pytest.raises(ValueError, match="n_members"):
        golden_records(df2, "entity_id", "name", max_cols=("n_members",))


def test_resolve_increment_merge_and_idempotent_replay(spark):
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.linkage import (
        FieldWeight,
        resolve_increment,
    )

    fields = [FieldWeight("name", 1, 10, -5)]
    # existing golden table: two entities in block 'x', one in 'y'
    golden = spark.createDataFrame(
        [(1, "x", "ANNA", 50.0, 2), (2, "x", "BOB", 10.0, 1),
         (7, "y", "CARA", 5.0, 3)],
        "entity_id long, blk string, name string, bal double, n_members long",
    )
    crosswalk = spark.createDataFrame(
        [(101, 1), (102, 1), (103, 2), (104, 7), (105, 7), (106, 7)],
        "rec long, entity_id long",
    )
    # batch: 201 matches ANNA (edit 1), 202 is new in block x,
    # 203 is new in block y, 104 is a REPLAYED record (already folded)
    batch = spark.createDataFrame(
        [(201, "x", "ANNAH", 80.0), (202, "x", "ZED", 1.0),
         (203, "y", "YVO", 2.0), (104, "y", "CARA", 5.0)],
        "rec long, blk string, name string, bal double",
    )
    g2, cw2 = resolve_increment(
        batch, golden, crosswalk,
        record_id="rec", entity_col="entity_id", block_cols=["blk"],
        fields=fields, min_score=10, name_col="name",
        max_cols=("bal",),
    )
    got = {
        r["entity_id"]: (r["n_members"], r["golden_name"], r["bal"])
        for r in g2.collect()
    }
    # 201 folded into entity 1: longest name ANNAH wins, bal max 80,
    # members 2+1
    assert got[1] == (3, "ANNAH", 80.0)
    # untouched entities pass through unchanged
    assert got[2] == (1, "BOB", 10.0)
    assert got[7] == (3, "CARA", 5.0)
    # minted: max existing id 7 + dense_rank over unmatched rec ids
    # (202 -> 8, 203 -> 9); replayed 104 dropped by the crosswalk guard
    assert got[8] == (1, "ZED", 1.0)
    assert got[9] == (1, "YVO", 2.0)
    assert len(got) == 5
    cw_rows = {(r["rec"], r["entity_id"]) for r in cw2.collect()}
    assert (201, 1) in cw_rows and (202, 8) in cw_rows and (203, 9) in cw_rows
    assert sum(1 for r, _ in cw_rows if r == 104) == 1  # no double fold

    # idempotent replay: the same batch against the NEW state is a no-op
    g2 = g2.select(
        "entity_id", F.col("golden_name").alias("name"), "bal", "n_members"
    ).join(
        spark.createDataFrame(
            [(1, "x"), (2, "x"), (7, "y"), (8, "x"), (9, "y")],
            "entity_id long, blk string",
        ),
        "entity_id",
    )
    g3, cw3 = resolve_increment(
        batch, g2, cw2,
        record_id="rec", entity_col="entity_id", block_cols=["blk"],
        fields=fields, min_score=10, name_col="name",
        max_cols=("bal",),
    )
    got3 = {
        r["entity_id"]: (r["n_members"], r["golden_name"], r["bal"])
        for r in g3.collect()
    }
    assert got3 == got
    assert {(r["rec"], r["entity_id"]) for r in cw3.collect()} == cw_rows


def test_resolve_increment_validates_inputs(spark):
    import pytest

    from datalakeingestion_spark.operators.linkage import (
        FieldWeight,
        resolve_increment,
    )

    fields = [FieldWeight("name", 0, 10, -5)]
    golden_no_members = spark.createDataFrame(
        [(1, "x", "A", 1.0)], "entity_id long, blk string, name string, bal double"
    )
    batch = spark.createDataFrame(
        [(5, "x", "A", 1.0)], "rec long, blk string, name string, bal double"
    )
    cw = spark.createDataFrame([], "rec long, entity_id long")
    with pytest.raises(ValueError, match="n_members"):
        resolve_increment(
            batch, golden_no_members, cw, "rec", "entity_id", ["blk"],
            fields, 10, "name",
        )


# ---------------------------------------------------------------------------
# The MinHash/LSH builders write their expressions as SQL text; each must
# build the same plan as its Column-API form, kept here as the reference.
# ---------------------------------------------------------------------------


def _shingles(spark):
    return spark.createDataFrame(
        [(1, "a b c"), (1, "b c d"), (2, "b c d"), (3, "x y z")],
        "doc_id long, s string",
    )


def test_portable_hash_sql_form_matches_column_form(spark):
    from pyspark.sql import functions as F

    from datalakeingestion_spark.functions.hashing import (
        portable_hash32,
        portable_hash32_sql,
    )

    sh = _shingles(spark)
    ref = sh.select(
        F.conv(F.substring(F.md5(F.col("s")), 1, 8), 16, 10).cast("long").alias("h")
    )
    assert sh.select(portable_hash32("s").alias("h")).sameSemantics(ref)
    assert sh.select(F.expr(portable_hash32_sql("s")).alias("h")).sameSemantics(ref)


def test_minhash_signature_builder_matches_column_api_plan(spark):
    from pyspark.sql import functions as F

    from datalakeingestion_spark.functions.hashing import portable_hash32

    sh = _shingles(spark)
    h = portable_hash32(F.col("s"))
    ref = sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * h + F.lit(b)) % F.lit(dd.MERSENNE_P)).alias(f"mh{i}")
            for i, (a, b) in enumerate(zip(dd.MINHASH_A, dd.MINHASH_B))
        ]
    )
    got = dd._signatures_from_shingles(sh)
    assert got.schema == ref.schema
    assert got.sameSemantics(ref)


def _reference_lsh_candidate_pairs(sig, max_bucket):
    """``lsh_candidate_pairs`` with ``all_sigs`` built from Column calls."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    sig_arr = sig.withColumn(
        "all_sigs",
        F.array(
            *[
                F.concat_ws(
                    ",", *[F.col(f"mh{j * dd.LSH_ROWS + r}") for r in range(dd.LSH_ROWS)]
                )
                for j in range(dd.LSH_BANDS)
            ]
        ),
    )
    bands = sig_arr.select(
        "doc_id", F.posexplode("all_sigs").alias("band_id", "band_sig"), "all_sigs"
    )
    same_band = (
        (F.col("b1.band_id") == F.col("b2.band_id"))
        & (F.col("b1.band_sig") == F.col("b2.band_sig"))
        & (F.col("b1.doc_id") < F.col("b2.doc_id"))
    )
    pair = [F.col("b1.doc_id").alias("doc_id_a"), F.col("b2.doc_id").alias("doc_id_b")]
    if max_bucket is not None:
        capped = (
            bands.withColumn(
                "_bsz", F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_sig"))
            )
            .filter(F.col("_bsz") <= max_bucket)
            .select("doc_id", "band_id", "band_sig")
        )
        return (
            capped.alias("b1").join(capped.alias("b2"), same_band).select(*pair).distinct()
        )
    no_earlier_match = F.forall(
        F.slice(
            F.zip_with(F.col("b1.all_sigs"), F.col("b2.all_sigs"), lambda x, y: x != y),
            F.lit(1),
            F.col("b1.band_id"),
        ),
        lambda differs: differs,
    )
    return (
        bands.alias("b1")
        .join(bands.alias("b2"), same_band)
        .filter(no_earlier_match)
        .select(*pair)
    )


@pytest.mark.parametrize("max_bucket", [None, 2])
def test_lsh_candidate_pairs_builder_matches_column_api_plan(spark, max_bucket):
    sig = dd._signatures_from_shingles(_shingles(spark))
    got = dd.lsh_candidate_pairs(sig, max_bucket)
    ref = _reference_lsh_candidate_pairs(sig, max_bucket)
    assert got.sameSemantics(ref)
    assert sorted(got.collect()) == sorted(ref.collect())
