from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalakeingestion_spark.operators import similarity as sim
from datalakeingestion_spark.sources.fixtures import load_table

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


@pytest.mark.smoke
def test_knn_graph_block_pair_count(spark, emb):
    """The documented O((n/B)²) cost model, pinned as an observable: the
    block-pair frame behind knn_graph has exactly nb² rows (nb = number of
    occupied id-range blocks), each one BLAS task — the quadratic that
    sets the operator's practical corpus ceiling (docstring:
    operators/similarity.py::knn_graph)."""
    for B in (64, 256):
        nb = (
            emb.select((F.col("vec_id") / B).cast("long").alias("b"))
            .distinct()
            .count()
        )
        pairs = sim._knn_block_pairs(emb, B)
        assert pairs.count() == nb * nb


def test_cosine_topk_contract(spark, emb):
    q = emb.filter(F.col("vec_id") < 5)
    out = sim.cosine_topk(emb, q, k=10).collect()
    by_q = {}
    for r in out:
        assert r.query_id != r.neighbor_id  # self excluded
        assert -1.0 <= r.cosine <= 1.0
        by_q.setdefault(r.query_id, []).append(r.cosine)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for cosines in by_q.values():
        assert len(cosines) == 10
        assert cosines == sorted(cosines, reverse=True)  # ranked


def test_lsh_recall_against_brute_force(spark, emb):
    """Multi-table LSH (8 tables × 4 planes) recall@10 — deterministic
    (md5-derived planes), pinned at the measured value."""
    q = emb.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.neighbor_id) for r in sim.cosine_topk(emb, q, 10).collect()}
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_bucketed_topk(emb, q, 10).collect()
    }
    recall = len(bf & lsh) / len(bf)
    assert recall >= 0.8
    # approximate results are a subset of legal neighbors (no fabrications)
    assert all(a != b for a, b in lsh)


def test_hyperplanes_deterministic():
    a = sim.hyperplanes(4, 16, seed=1)
    b = sim.hyperplanes(4, 16, seed=1)
    c = sim.hyperplanes(4, 16, seed=2)
    assert a == b and a != c
    assert all(-1.0 <= v < 1.0 for row in a for v in row)


def test_embedding_near_duplicates_contract(spark, emb):
    out = sim.embedding_near_duplicates(emb, threshold=0.9).collect()
    for r in out:
        assert r.vec_id_a < r.vec_id_b  # canonical pair order, no dupes
        assert r.cosine >= 0.9


def test_quantize_int8_roundtrip_preserves_neighbors(spark, emb):
    """Dequantized int8 vectors must preserve cosine geometry: max
    elementwise error <= scale/2 and exact top-10 neighbor overlap >= 0.9
    on the fixture corpus."""
    import numpy as np

    rows = sim.quantize_embeddings(emb).collect()
    orig = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    deq, errs = {}, []
    for r in rows:
        v = np.array(r["qvec"], dtype=np.float64) * r["scale"]
        deq[r["vec_id"]] = v
        errs.append(np.max(np.abs(v - orig[r["vec_id"]])) if r["scale"] else 0.0)
        assert max(abs(q) for q in r["qvec"]) <= 127
    scales = {r["vec_id"]: r["scale"] for r in rows}
    for vid, err in zip(deq, errs):
        assert err <= scales[vid] / 2 + 1e-12

    ids = sorted(deq)
    X = np.stack([orig[i] for i in ids])
    Q = np.stack([deq[i] for i in ids])

    def topk(M, k=10):
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn @ Mn.T
        np.fill_diagonal(S, -np.inf)
        return np.argsort(-S, axis=1)[:, :k]

    a, b = topk(X), topk(Q)
    overlap = np.mean([len(set(x) & set(y)) / 10 for x, y in zip(a, b)])
    assert overlap >= 0.9, overlap


def test_embedding_decontaminate_flags_planted_neighbor(spark):
    from datalakeingestion_spark.operators.similarity import (
        embedding_decontaminate,
    )

    # bench vector 100 = train vector 1 (exact copy, cosine 1.0);
    # bench 101 is near train 2 (high cosine); train 3 is orthogonal
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
    ]
    bench_rows = [
        (100, [1.0, 0.0, 0.0, 0.0]),
        (101, [0.0, 1.0, 0.0, 0.0]),
        (102, [1.0, 0.0, 0.0, 0.0]),  # duplicate of 100: tie on train 1
    ]
    train = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bench = spark.createDataFrame(
        bench_rows, "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: (r["bench_vec_id"], r["cosine"])
        for r in embedding_decontaminate(train, bench, threshold=0.9).collect()
    }
    assert set(got) == {1, 2}  # 3 is orthogonal to every bench vector
    assert got[1] == (100, 1.0)  # tie between bench 100/102 -> min id
    assert got[2][0] == 101 and got[2][1] > 0.99

    import pytest as _pytest

    with _pytest.raises(ValueError):
        embedding_decontaminate(train, bench.limit(0))


def test_sample_negatives_excludes_self_and_true_neighbors(spark):
    from datalakeingestion_spark.operators.similarity import (
        cosine_topk,
        sample_negatives,
    )
    from datalakeingestion_spark.sources.fixtures import load_table

    from .conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    import pyspark.sql.functions as F

    queries = emb.filter(F.col("vec_id") < 3)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    negs = sample_negatives(emb, queries, k_neg=15, exclude_topk=10).collect()
    assert len(negs) == 3 * 15
    for r in negs:
        assert r.neg_id != r.query_id
        assert (r.query_id, r.neg_id) not in truth
    # deterministic: a second run yields the identical sample
    again = sample_negatives(emb, queries, k_neg=15, exclude_topk=10).collect()
    assert sorted(map(tuple, negs)) == sorted(map(tuple, again))


# ---------------------------------------------------------------------------
# truncate_rerank_topk (matryoshka-style prefix index)
# ---------------------------------------------------------------------------


def test_truncate_rerank_full_prefix_is_exact(spark):
    """With prefix_dims >= dim, candidate gen IS full-space cosine, so
    the two-stage result must equal brute force exactly."""
    from datalakeingestion_spark.operators.similarity import (
        cosine_topk,
        truncate_rerank_topk,
    )
    from datalakeingestion_spark.sources.fixtures import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter("vec_id < 3")
    exact = cosine_topk(emb, q, k=5).collect()
    two_stage = truncate_rerank_topk(
        emb, q, k=5, prefix_dims=64, candidates=120
    ).collect()
    key = lambda r: (r["query_id"], r["neighbor_id"])  # noqa: E731
    assert sorted(map(key, two_stage)) == sorted(map(key, exact))


def test_truncate_rerank_rejects_bad_prefix(spark):
    import pytest as _pytest

    from datalakeingestion_spark.operators.similarity import (
        truncate_rerank_topk,
    )
    from datalakeingestion_spark.sources.fixtures import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with _pytest.raises(ValueError, match="prefix_dims"):
        truncate_rerank_topk(emb, emb, prefix_dims=0)


def test_silhouette_separated_vs_shuffled_labels(spark):
    """Well-separated clusters score near 1; randomly relabeled points
    score near 0 or below — the QA signal the operator exists for."""
    import numpy as np

    from datalakeingestion_spark.operators.similarity import (
        silhouette_by_label,
    )

    rng = np.random.default_rng(7)
    rows = []
    centers = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    vid = 0
    for lbl, c in centers.items():
        for _ in range(12):
            v = (np.array(c) + rng.normal(0, 0.2, 3)).tolist()
            rows.append((vid, [float(x) for x in v], lbl))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    good = silhouette_by_label(emb).collect()
    assert {r["label"] for r in good} == {0, 1, 2}
    assert all(r["n_vectors"] == 12 for r in good)
    assert all(r["mean_silhouette"] > 0.9 for r in good)

    shuffled = emb.withColumn(
        "label", (F.col("vec_id") % 3).cast("int")
    )
    bad = silhouette_by_label(shuffled).collect()
    assert all(r["mean_silhouette"] < 0.5 for r in bad)


def test_truncate_rerank_recall_curve(spark):
    """Pin the candidate-budget -> recall curve on the 500-vector
    near-isotropic fixture (NO MRL front-loading — the worst case for a
    prefix index). Measured: C=50 mean recall@10 ~= 0.73, C=100 ~= 0.90,
    C=150 ~= 0.96. The shipped default budget (C=150) must keep mean
    recall >= 0.9, and recall must not DECREASE as the budget grows —
    the contract that makes 'raise candidates' a safe production knob."""
    from datalakeingestion_spark.operators.similarity import (
        cosine_topk,
        truncate_rerank_topk,
    )
    from datalakeingestion_spark.sources.fixtures import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter("vec_id < 20")
    truth: dict = {}
    for r in cosine_topk(emb, q, k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def mean_recall(C: int) -> float:
        byq: dict = {}
        rows = truncate_rerank_topk(
            emb, q, k=10, prefix_dims=32, candidates=C
        ).collect()
        for r in rows:
            byq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        per_q = [
            len(truth[qid] & byq.get(qid, set())) / len(truth[qid])
            for qid in truth
        ]
        return sum(per_q) / len(per_q)

    curve = {C: mean_recall(C) for C in (50, 100, 150)}
    assert curve[150] >= 0.9, curve
    assert curve[50] <= curve[100] + 1e-9 <= curve[150] + 2e-9, curve
    # the fixture really is adversarial for a small budget: C=50 must
    # sit well below the C=150 point, or the knob test is vacuous
    assert curve[50] < curve[150], curve


# ---------------------------------------------------------------------------
# rrf_fuse (hybrid retrieval fusion)
# ---------------------------------------------------------------------------


def test_rrf_fuse_missing_ranks_and_ties(spark):
    import pytest
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id int, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id int, rank int")
    out = {
        r["doc_id"]: (r["rrf_score"], r["a_rank"], r["b_rank"])
        for r in rrf_fuse(
            [(a, "a_rank"), (b, "b_rank")], k_const=60, topk=10
        ).collect()
    }
    # doc 2 appears in both lists; docs 1 and 3 get a single contribution
    assert out[2] == (round(1 / 62 + 1 / 61, 6), 2, 1)
    assert out[1] == (round(1 / 61, 6), 1, None)
    assert out[3] == (round(1 / 62, 6), None, 2)
    # doc 2 outranks 1 (two contributions beat one), 1 beats 3 (rank 1 vs 2)
    assert out[2][0] > out[1][0] > out[3][0]

    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_cosine_topk_matches_join_window_twin(spark, emb):
    """r12 optimization pin: the single-pass mapInPandas cosine_topk must
    be row-identical to the former broadcast-join + full-window
    formulation (which this twin re-states inline). Global top-k under a
    total order is a subset of the union of per-batch top-k under the
    same order, so the two shapes are provably equivalent — this test is
    the executable form of that proof on real fixture vectors."""
    from pyspark.sql import Window

    q = emb.filter(F.col("vec_id") < 5)
    qf = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        sim._norm(F.col("embedding")).alias("q_norm"),
    )
    cf = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        sim._norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        cf.join(F.broadcast(qf), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                sim._dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    twin = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
        .collect()
    )
    fast = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim.cosine_topk(emb, q, k=10).collect()
    )
    assert fast == twin


def test_round6_spark_matches_engine_round():
    """_round6_spark (the kernel-side rounding replica) vs Spark's own
    round(double, 6), including exact .5e-6 ties where binary half-even
    and decimal HALF_UP disagree, negative ties (HALF_UP = away from
    zero), and values whose shortest repr sits a hair off the tie."""
    import numpy as np

    vals = [
        0.1234565,  # shortest-repr tie → HALF_UP rounds up
        -0.1234565,  # negative tie → away from zero
        0.9999995,
        -0.9999995,
        0.5,
        1.0,
        -1.0,
        0.12345649999999,
        0.1234565000001,
        1e-7,
        -1e-7,
        0.7071067811865476,
        -0.33333333333333331,
    ]
    got = sim._round6_spark(np.array(vals, dtype=np.float64))
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r[0] for r in df.select(F.round("x", 6)).collect()]
    assert [repr(g) for g in got.tolist()] == [repr(w) for w in want]


def _zero_vec_frame(spark):
    """Tiny corpus with an all-zero embedding (vec 99) planted among
    normal vectors — the zero-norm lane whose cosine must be NULL and
    rank LAST (r13 ADVICE fix)."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
        (99, [0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_cosine_topk_zero_vector_null_cosine_ranks_last(spark):
    """Zero-norm lanes: the mapInPandas kernel must replicate Spark's
    non-ANSI divide (NULL cosine) and NULLS-LAST desc ordering — the
    numpy path's 0/0 NaN formerly ranked FIRST. Pinned against the
    join-formulation fallback (the literal former shape)."""
    df = _zero_vec_frame(spark)
    q = df.filter(F.col("vec_id").isin(1, 99))
    fast = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim.cosine_topk(df, q, k=10).collect()
    )
    twin = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim._cosine_topk_join(
            df, q, 10, "vec_id", "embedding"
        ).collect()
    )
    assert fast == twin
    by_query = {}
    for qid, nid, cos in fast:
        by_query.setdefault(qid, []).append((nid, cos))
    # the zero vector is a NULL-cosine neighbor for query 1, and every
    # cosine of query 99 is NULL
    assert (99, None) in by_query[1]
    assert all(c is None for _, c in by_query[99])
    # NULLs rank last: query 1's NULL row comes after all real cosines
    ranked = [
        r
        for r in sim.cosine_topk(df, q, k=10).collect()
        if r.query_id == 1
    ]
    null_pos = [i for i, r in enumerate(ranked) if r.cosine is None]
    real_pos = [i for i, r in enumerate(ranked) if r.cosine is not None]
    assert null_pos and real_pos and min(null_pos) > max(real_pos)


def test_lsh_bucketed_topk_zero_vector_matches_join_twin(spark):
    df = _zero_vec_frame(spark)
    q = df.filter(F.col("vec_id").isin(1, 99))
    kwargs = dict(k=10, n_tables=4, planes_per_table=3, dim=3)
    fast = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim.lsh_bucketed_topk(df, q, **kwargs).collect()
    )
    twin = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim._lsh_bucketed_topk_join(
            df, q, 10, 4, 3, 3, "vec_id", "embedding"
        ).collect()
    )
    assert fast == twin


def test_cosine_topk_bounded_collect_falls_back(spark, emb, monkeypatch):
    """VERDICT r12 item 6: the driver-side query collect is bounded —
    past MAX_COLLECT_QUERIES the operator must return the join
    formulation's (identical) result instead of collecting an unbounded
    frame onto the driver."""
    q = emb.filter(F.col("vec_id") < 5)
    want = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim.cosine_topk(emb, q, k=10).collect()
    )
    monkeypatch.setattr(sim, "MAX_COLLECT_QUERIES", 2)
    got = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim.cosine_topk(emb, q, k=10).collect()
    )
    assert got == want
    lsh_kwargs = dict(k=5, n_tables=4, planes_per_table=3, dim=64)
    monkeypatch.setattr(sim, "MAX_COLLECT_QUERIES", 100_000)
    want_lsh = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim.lsh_bucketed_topk(emb, q, **lsh_kwargs).collect()
    )
    monkeypatch.setattr(sim, "MAX_COLLECT_QUERIES", 2)
    got_lsh = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim.lsh_bucketed_topk(emb, q, **lsh_kwargs).collect()
    )
    assert got_lsh == want_lsh


def test_cosine_topk_null_and_ragged_vectors_skipped(spark, monkeypatch):
    """ADVICE r12: NULL or wrong-length corpus vectors must not crash
    the vstack — they are filtered/skipped on both formulations. With a
    corpus of two vector lengths in one partition (the ragged rows share
    an Arrow batch), ``cosine_topk`` scores each query against the
    corpus rows of its own length, and ``lsh_bucketed_topk`` skips every
    vector whose length is not ``dim``; each gives the same rows with
    the query collect allowed and with it forced to the join."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.5, 0.5, 0.0]),
        (3, None),
        (4, [1.0, 0.0]),  # ragged
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = df.filter(F.col("vec_id") == 1)
    got = sim.cosine_topk(df, q, k=10).collect()
    assert sorted(r.neighbor_id for r in got) == [2]
    twin = sim._cosine_topk_join(df, q, 10, "vec_id", "embedding").collect()
    assert sorted(r.neighbor_id for r in twin) == [2]

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.5, 0.5, 0.0]),
            (3, [1.0, 0.0]),
            (4, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1)

    def scored(out):
        return sorted((r.query_id, r.neighbor_id, r.cosine) for r in out.collect())

    cos_q = df.filter(F.col("vec_id").isin(1, 3))
    lsh_q = df.filter(F.col("vec_id").isin(1, 2))
    lsh_kwargs = dict(k=10, n_tables=8, planes_per_table=2, dim=3)
    default = sim.MAX_COLLECT_QUERIES
    for bound in (default, -1):
        monkeypatch.setattr(sim, "MAX_COLLECT_QUERIES", bound)
        assert scored(sim.cosine_topk(df, cos_q, k=10)) == [
            (1, 2, 0.707107),
            (3, 4, 0.0),
        ], bound
        assert scored(sim.lsh_bucketed_topk(df, lsh_q, **lsh_kwargs)) == [
            (1, 2, 0.707107),
            (2, 1, 0.707107),
        ], bound

    # an empty query set, and one whose only vector is NULL, give no rows
    # on either path; at the default bound neither operator plans its join
    none_q = df.filter(F.col("vec_id") == 99)
    null_q = spark.createDataFrame([(1, None)], "vec_id long, embedding array<double>")
    for bound in (default, -1):
        with monkeypatch.context() as m:
            m.setattr(sim, "MAX_COLLECT_QUERIES", bound)
            if bound >= 0:
                for name in ("_cosine_topk_join", "_lsh_bucketed_topk_join"):
                    m.setattr(sim, name, lambda *a, **kw: pytest.fail("joined"))
            for qs in (none_q, null_q):
                assert scored(sim.cosine_topk(df, qs, k=10)) == [], bound
                assert scored(sim.lsh_bucketed_topk(df, qs, **lsh_kwargs)) == [], bound
