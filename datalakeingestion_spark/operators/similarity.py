"""Embedding similarity search — brute-force cosine top-k and LSH-bucketed
approximate nearest neighbors.

Greenfield scale operators over an ``array<float>`` embedding column.

- ``cosine_topk`` — exact: broadcast the (small) query set against the
  candidate corpus, fold the dot product JVM-side with
  ``zip_with``+``aggregate`` (no Python UDF), rank per query with a
  window. At 100 TB the corpus side stays partitioned; only queries
  broadcast.
- ``lsh_bucketed_topk`` — scale path: MULTI-TABLE sign-of-random-
  hyperplane LSH (deterministic planes derived from md5, reproducible
  run-to-run). Each of L tables hashes a vector to a k-bit bucket;
  candidates are corpus rows sharing a bucket in ANY table. Per-table
  collision probability for angle θ is (1-θ/π)^k, so L tables give
  recall 1-(1-(1-θ/π)^k)^L while the candidate set stays ~L·n/2^k per
  query. Recall is pinned against the brute-force baseline in
  tests/test_similarity.py.

Cosine values are rounded to 6 dp *before* ranking so ordering (and the
DuckDB oracle comparison) is independent of float summation order.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..utils import bounded_collect, driver_frame

_DOT_PD = None


def _by_length(kernel, *cols: pd.Series) -> pd.Series:
    """``kernel`` over the float64 matrices stacked from ``cols``' vectors,
    one call per vector length: a batch that mixes lengths cannot be
    stacked into one matrix, and rows of one length never meet rows of
    another (every pairing filters on equal ``size``)."""
    import numpy as np

    lens = np.fromiter((len(v) for v in cols[0]), dtype=np.int64, count=len(cols[0]))
    out = np.empty(len(lens))
    for n in np.unique(lens):
        at = lens == n
        out[at] = kernel(
            *(np.vstack(c.to_numpy()[at]).astype(np.float64) for c in cols)
        )
    return pd.Series(out)


def _dot(a: Column, b: Column) -> Column:
    """Vectorized pairwise dot product: one numpy einsum per Arrow batch.

    Summation order differs from a sequential fold by ~1 ulp — all
    cosine consumers round to 6 dp BEFORE ranking/compare, so results are
    unaffected; this is the hot path for all-pairs scoring. The UDF is
    built lazily: pandas_udf parses its DDL against the active session,
    which doesn't exist at import time.
    """
    global _DOT_PD
    if _DOT_PD is None:

        def kernel(x: pd.Series, y: pd.Series) -> pd.Series:
            import numpy as np

            return _by_length(lambda A, B: np.einsum("ij,ij->i", A, B), x, y)

        _DOT_PD = F.pandas_udf(kernel, "double")
    return _DOT_PD(a, b)


_NORM_PD = None


def _norm(a: Column) -> Column:
    """Vectorized L2 norm (one numpy pass per Arrow batch).

    Like ``_dot``: the per-element interpreted fold dominates corpus-wide
    indexing (measured 100k×64 vectors: the fold made LSH indexing slower
    than brute force); cosine consumers round to 6 dp so the summation-
    order ulp is invisible. Built lazily (pandas_udf needs a session).
    """
    global _NORM_PD
    if _NORM_PD is None:

        def kernel(col: pd.Series) -> pd.Series:
            import numpy as np

            return _by_length(lambda X: np.linalg.norm(X, axis=1), col)

        _NORM_PD = F.pandas_udf(kernel, "double")
    return _NORM_PD(a)


def _round6_spark(arr):
    """Vectorized replica of Spark's ``round(double, 6)``.

    Spark rounds a double by re-parsing its shortest decimal repr
    (``BigDecimal(Double.toString(x)).setScale(6, HALF_UP)``). Off a
    .5e-6 tie boundary that equals plain numpy rounding, so the fast
    path is ``np.round``; lanes within a hair of a tie (where numpy's
    binary half-even and Java's decimal HALF_UP can disagree) are
    recomputed exactly with ``decimal`` — ``repr(float)`` is the same
    shortest-repr algorithm as ``Double.toString``. NaN/inf pass
    through untouched (Spark's round leaves them alone too).
    """
    import numpy as np

    scaled = arr * 1e6
    out = np.round(arr, 6)
    with np.errstate(invalid="ignore"):
        frac = np.abs(scaled - np.floor(scaled) - 0.5)
        sus = np.isfinite(arr) & (frac < 1e-8 + np.abs(scaled) * 4e-15)
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        quantum = Decimal("0.000001")
        flat_out, flat_in = out.reshape(-1), arr.reshape(-1)
        for i in np.nonzero(sus.reshape(-1))[0]:
            flat_out[i] = float(
                Decimal(repr(float(flat_in[i]))).quantize(
                    quantum, rounding=ROUND_HALF_UP
                )
            )
    # tiny negatives round to numpy's -0.0 but to Java BigDecimal's 0.0;
    # adding +0.0 maps -0.0 → 0.0 and is the identity elsewhere
    return out + 0.0


#: Upper bound on query rows collected to the driver by the one-pass
#: kernels below; past it the operator takes its join formulation. The
#: query set is metadata-scale by contract, and the bound keeps the
#: contract from being only a docstring.
MAX_COLLECT_QUERIES = 100_000


def _collect_query_rows(queries: DataFrame, id_col: str, vec_col: str):
    """``(ids, Q)``: the query ids and their vectors stacked into an
    m × dim float64 matrix, on the driver. ``None`` sends the caller to
    its join formulation: past ``MAX_COLLECT_QUERIES`` rows, or when the
    vectors have more than one length (the kernel scores one dimension;
    the join pairs equal lengths). Rows with a NULL id or vector are
    dropped, as the join drops them.

    Eager: its Spark jobs run while the caller's plan is assembled,
    because the scoring kernel closes over the rows."""
    import numpy as np
    import pyarrow.compute as pc

    t = bounded_collect(queries.select(id_col, vec_col), MAX_COLLECT_QUERIES)
    if t is None:
        return None
    t = t.filter(pc.and_(pc.is_valid(t[0]), pc.is_valid(t[1])))
    ids, vecs = t.columns
    lens = pc.list_value_length(vecs)
    width = pc.max(lens).as_py() or 0
    if len(t) and pc.min(lens).as_py() != width:
        return None
    q = pc.list_flatten(vecs).to_numpy(zero_copy_only=False)
    return np.array(ids.to_pylist()), q.astype(np.float64).reshape(len(t), width)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _cosine_topk_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The former broadcast-join formulation — taken when
    ``_collect_query_rows`` returns ``None``. Same output contract as
    the kernel path: NULL-id/NULL-vec rows dropped on both sides,
    mismatched-dimension pairs dropped, zero-norm cosines NULL (Spark's
    non-ANSI divide), ranked last under desc."""
    q = queries.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    c = embeddings.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.size("q_vec") == F.size("c_vec")),
        )
        .withColumn("cosine", _safe_cosine())
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def _safe_cosine() -> Column:
    """6-dp cosine over (q_vec, c_vec, q_norm, c_norm) with zero-norm
    lanes yielding NULL — guarded CASE WHEN, because Spark 4's default
    ANSI mode makes a bare divide-by-zero THROW rather than return
    NULL. NULL sorts last under the desc ranking, the same contract the
    mapInPandas kernels implement."""
    return F.when(
        (F.col("q_norm") != 0) & (F.col("c_norm") != 0),
        F.round(
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        ),
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query row.

    Output: (query_id, neighbor_id, cosine) with deterministic ranking
    (cosine rounded to 6 dp, ties broken by neighbor_id). Rows with a
    NULL id or NULL vector never participate (either side); a corpus
    row is scored only against queries of its own dimension; a
    zero-norm vector on either side yields a NULL cosine that ranks
    LAST (Spark's divide-by-zero-is-NULL, NULLS-LAST-desc behavior —
    r13, ADVICE fix).

    Execution shape (one corpus pass): the query set is metadata-scale
    by contract (past ``MAX_COLLECT_QUERIES`` rows, or with vectors of
    more than one length, the operator takes the broadcast-join
    formulation), so it is collected once and closed over by a single
    ``mapInPandas`` kernel that scores EVERY query against each Arrow
    batch with one BLAS matmul and emits only the batch-local top-k per
    query. Each corpus vector crosses the Python boundary exactly once
    (the former shape replicated it per query through a
    BroadcastNestedLoopJoin and paid three ArrowEvalPython nodes); the
    global window then ranks the ~k·n_batches survivors per query —
    global top-k under a total order is always a subset of the union of
    per-batch top-k under the same order (dead lanes rank -inf, so they
    fill spare slots only), so results are identical row-for-row.
    """
    collected = _collect_query_rows(queries, id_col, vec_col)
    if collected is None:
        return _cosine_topk_join(embeddings, queries, k, id_col, vec_col)
    q_ids = collected[0]
    return _topk_one_pass(
        embeddings, queries, k, id_col, vec_col, collected,
        lambda C, ids: ids[:, None] != q_ids[None, :],
    )


def _topk_one_pass(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    collected,
    candidates,
) -> DataFrame:
    """The one-pass kernel of ``cosine_topk`` and ``lsh_bucketed_topk``:
    a ``mapInPandas`` over the corpus scores each Arrow batch against
    the collected ``(q_ids, Q)`` and emits the batch-local top-k per
    query among the corpus rows ``candidates(C, ids)`` (an n × m mask)
    allows; the global window ranks the survivors."""
    import numpy as np
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("neighbor_id", embeddings.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    q_ids, Q = collected  # Q: m × dim
    if not len(q_ids):
        return driver_frame(embeddings.sparkSession, [], out_schema)
    # same call as the per-batch corpus norms below, so a vector that is
    # both query and corpus row gets the bit-identical norm either side
    q_norms = np.linalg.norm(Q, axis=1)
    q_zero = q_norms == 0.0
    dim = Q.shape[1]

    c = embeddings.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # skip ragged rows (dimension != query dimension) instead of
            # crashing vstack; NULL vecs are filtered JVM-side above
            lens = np.fromiter(
                (len(v) for v in pdf["c_vec"]), dtype=np.int64,
                count=len(pdf),
            )
            if not (lens == dim).all():
                pdf = pdf[lens == dim]
                if pdf.empty:
                    continue
            ids = pdf["neighbor_id"].to_numpy()
            C = np.vstack(pdf["c_vec"].to_numpy()).astype(np.float64)
            c_norms = np.linalg.norm(C, axis=1)
            cand = candidates(C, ids)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _round6_spark(
                    (C @ Q.T) / np.outer(c_norms, q_norms)
                )  # n × m
            # zero-norm lanes: NULL cosine (NaN → Arrow null), ranked
            # LAST — replicating Spark's NULL divide + NULLS-LAST desc.
            # Rank -2.0: below every real cosine (≥ -1) but ABOVE the
            # -inf non-candidate rows, so a dead lane is never crowded
            # out of the batch-local top-k by a row the final ranking
            # drops — the union-superset argument needs the batch order
            # to match the global order over EMITTABLE rows.
            dead = (c_norms == 0.0)[:, None] | q_zero[None, :]
            cos[dead] = np.nan
            rank = np.where(dead, -2.0, cos)
            rank[~cand] = -np.inf
            kk = min(k, len(ids))
            out_q, out_n, out_c = [], [], []
            for j in range(len(q_ids)):
                top = np.lexsort((ids, -rank[:, j]))[:kk]
                keep = top[cand[top, j]]
                out_q.append(np.repeat(q_ids[j], len(keep)))
                out_n.append(ids[keep])
                out_c.append(cos[keep, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = c.mapInPandas(score, out_schema)
    return _rank_topk(scored, k)


def hyperplanes(n_planes: int, dim: int, seed: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1)^dim.

    Coefficients derive from md5 of "(seed,plane,dim)" so any engine (or a
    future re-run) regenerates the identical planes — no RNG state.
    """
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{seed}_{p}_{d}".encode()).hexdigest()[:8], 16)
            row.append(h / float(1 << 31) - 1.0)
        planes.append(row)
    return planes


def _lsh_bucketed_topk_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_tables: int,
    planes_per_table: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The former posexplode+broadcast-join formulation — taken when
    the query vectors cannot be stacked into one m × ``dim`` matrix on
    the driver. Buckets are the same numpy kernel (one matmul per Arrow
    batch); candidate pairs dedupe through a groupBy before scoring."""
    import numpy as np

    mats = np.array(
        [hyperplanes(planes_per_table, dim, seed=t) for t in range(n_tables)],
        dtype=np.float64,
    ).reshape(n_tables * planes_per_table, dim)
    weights = 1 << np.arange(planes_per_table)

    @F.pandas_udf("array<long>")
    def buckets(col: pd.Series) -> pd.Series:
        # a vector of another length than ``dim`` gets no bucket (NULL:
        # posexplode emits nothing), as the one-pass kernel skips it
        at = [i for i, v in enumerate(col) if len(v) == dim]
        out = [None] * len(col)
        if at:
            X = np.vstack(col.to_numpy()[at]).astype(np.float64)  # n × dim
            bits = (X @ mats.T) >= 0.0  # n × (L·k)
            b = bits.reshape(len(X), n_tables, planes_per_table) @ weights
            for i, row in zip(at, b):
                out[i] = row
        return pd.Series(out)

    c = embeddings.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
        F.posexplode(buckets(F.col(vec_col))).alias("table_id", "bucket"),
    )
    q = queries.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.posexplode(buckets(F.col(vec_col))).alias("table_id", "bucket"),
    )
    candidates = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.size("q_vec") == F.size("c_vec"))
        )
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.first("q_vec").alias("q_vec"),
            F.first("c_vec").alias("c_vec"),
            F.first("q_norm").alias("q_norm"),
            F.first("c_norm").alias("c_norm"),
        )
    )
    scored = candidates.withColumn("cosine", _safe_cosine()).select(
        "query_id", "neighbor_id", "cosine"
    )
    return _rank_topk(scored, k)


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = 8,
    planes_per_table: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: cosine ranking restricted to candidates sharing
    an LSH bucket in ANY of the L hash tables. Same output schema as
    ``cosine_topk``; each candidate pair is scored once regardless of how
    many tables it collides in. NULL-id/NULL-vec rows drop on either
    side; vectors whose length is not ``dim`` are skipped on either
    side; zero-norm cosines are NULL and rank LAST (r13, the
    ``cosine_topk`` contract).

    Execution shape (r12, one corpus pass — same rationale as
    ``cosine_topk``): the metadata-scale query set is collected once
    (bounded by ``MAX_COLLECT_QUERIES``, falling back to the explode-
    join formulation past it), its buckets/norms computed driver-side
    with the identical numpy kernel, and a single ``mapInPandas`` pass
    buckets + scores each corpus batch against all queries, emitting
    batch-local top-k among bucket-colliding candidates. The former
    shape posexploded every corpus vector ×L (the vector payload rode
    the explode), broadcast-joined, then shuffled full vectors through
    a pair-level groupBy — three vector-payload movements the one-pass
    form never makes.
    """
    import numpy as np

    # the join also takes query vectors whose length is not ``dim``: its
    # bucket kernel skips them, so they find no candidate
    collected = _collect_query_rows(queries, id_col, vec_col)
    if collected is None or (len(collected[0]) and collected[1].shape[1] != dim):
        return _lsh_bucketed_topk_join(
            embeddings, queries, k, n_tables, planes_per_table, dim,
            id_col, vec_col,
        )

    mats = np.array(
        [hyperplanes(planes_per_table, dim, seed=t) for t in range(n_tables)],
        dtype=np.float64,
    ).reshape(n_tables * planes_per_table, dim)
    weights = 1 << np.arange(planes_per_table)

    def bucketize(X: "np.ndarray") -> "np.ndarray":
        bits = (X @ mats.T) >= 0.0  # n × (L·k)
        return bits.reshape(len(X), n_tables, planes_per_table) @ weights

    q_ids, Q = collected
    # an empty query set comes back 0 wide; it scores nothing either way
    q_buckets = bucketize(Q.reshape(len(q_ids), dim))  # m × L

    def candidates(C, ids):
        # shares a bucket in ANY table, and not self
        return (bucketize(C)[:, None, :] == q_buckets[None, :, :]).any(
            axis=2
        ) & (ids[:, None] != q_ids[None, :])

    return _topk_one_pass(
        embeddings, queries, k, id_col, vec_col, collected, candidates
    )


def embedding_near_duplicates_blocked(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_size: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine near-duplicates via block matrix multiply.

    Same output as ``embedding_near_duplicates`` (same oracle), different
    cost model: vectors are grouped into blocks of ``block_size``; every
    block PAIR becomes one task computing X @ Yᵀ as a single BLAS matmul
    and emitting only qualifying pairs. Each vector is shipped once per
    block pair (O(n²/B) transfer vs O(n²) for the row-pair join) and the
    per-pair Python/Arrow overhead disappears. This is the scale path
    when exactness is required (LSH recall not acceptable); n² work is
    inherent, but it parallelizes perfectly across block pairs.
    """
    import numpy as np

    blocks = embeddings.select(
        (F.col(id_col) / block_size).cast("long").alias("block"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
    )
    packed = blocks.groupBy("block").agg(
        F.collect_list("vid").alias("ids"),
        F.collect_list("vec").alias("vecs"),
    )
    a = packed.select(
        F.col("block").alias("block_a"),
        F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    b = packed.select(
        F.col("block").alias("block_b"),
        F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    pairs = a.join(b, F.col("block_a") <= F.col("block_b"))

    out_schema = "vec_id_a long, vec_id_b long, cosine double"

    def score(batches):
        for pdf in batches:
            rows_a, rows_b, rows_c = [], [], []
            for _, r in pdf.iterrows():
                ids_a = np.asarray(r["ids_a"], dtype=np.int64)
                ids_b = np.asarray(r["ids_b"], dtype=np.int64)
                X = _unit_rows(np.vstack([np.asarray(v) for v in r["vecs_a"]]))
                Y = _unit_rows(np.vstack([np.asarray(v) for v in r["vecs_b"]]))
                C = np.round(X @ Y.T, 6)
                ia, ib = np.where(C >= threshold)
                va, vb, vc = ids_a[ia], ids_b[ib], C[ia, ib]
                keep = va < vb  # canonical order; also drops self-pairs
                rows_a.append(va[keep])
                rows_b.append(vb[keep])
                rows_c.append(vc[keep])
            if rows_a:
                yield pd.DataFrame(
                    {
                        "vec_id_a": np.concatenate(rows_a),
                        "vec_id_b": np.concatenate(rows_b),
                        "cosine": np.concatenate(rows_c),
                    }
                )

    return pairs.mapInPandas(score, out_schema)


def _unit_rows(X):
    import numpy as np

    X = X.astype(np.float64)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return X / n


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine near-duplicate detection (a < b, cosine >= threshold).

    Exact O(n²) — for corpus scale, bucket with `lsh_bucketed_topk`-style
    planes first. Kept exact here as the verify/ground-truth stage.
    """
    a = embeddings.select(
        F.col(id_col).alias("vec_id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("na"),
    )
    b = embeddings.select(
        F.col(id_col).alias("vec_id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_id_a", "vec_id_b", "cosine")
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale). 4× memory reduction for ANN candidate
    storage (the standard first compression step before PQ); dequantize
    as q_i * scale. Pure column expressions — JVM-side, no Python.

    Zero vectors quantize to zeros with scale 0. Arithmetic is double
    (float32 inputs widen exactly), so the result is engine-portable —
    the DuckDB oracle computes the identical values.

    Returns (id_col, scale, qvec array<int> in [-127, 127]).
    """
    # materialize max|x| as a ROW COLUMN first: referencing the aggregate
    # expression inside the transform lambda would re-evaluate the whole
    # array-max PER ELEMENT (HOF bodies get no CSE — O(d²) per vector)
    mx = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x))).cast(
        "double"
    )
    staged = vectors.select(F.col(id_col), F.col(vec_col), mx.alias("_mx"))
    scale = F.col("_mx") / F.lit(127.0)
    q = F.when(
        F.col("_mx") > 0,
        F.transform(
            F.col(vec_col),
            lambda x: F.round(
                x.cast("double") / (F.col("_mx") / F.lit(127.0))
            ).cast("int"),
        ),
    ).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0)))
    return staged.select(
        F.col(id_col), scale.alias("scale"), q.alias("qvec")
    )


def _knn_block_pairs(
    embeddings: DataFrame,
    block_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The (block_a × block_b) pair frame behind ``knn_graph`` — exactly
    ⌈id-range/B⌉² rows, one BLAS task each. Split out so the documented
    O((n/B)²) cost model is testable as a row count rather than trusted
    prose."""
    blocks = embeddings.select(
        (F.col(id_col) / block_size).cast("long").alias("block"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
    )
    packed = blocks.groupBy("block").agg(
        F.collect_list("vid").alias("ids"),
        F.collect_list("vec").alias("vecs"),
    )
    a = packed.select(
        F.col("ids").alias("ids_a"), F.col("vecs").alias("vecs_a")
    )
    b = packed.select(
        F.col("ids").alias("ids_b"), F.col("vecs").alias("vecs_b")
    )
    return a.crossJoin(b)


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    block_size: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT cosine k-nearest-neighbor graph over the whole corpus
    (every vector is a query) — the input to SemDeDup-style semantic
    dedup and graph-based diversity sampling.

    Same block-matmul cost model as ``embedding_near_duplicates_blocked``:
    vectors are packed into blocks of ``block_size`` and every block PAIR
    is one task computing X @ Yᵀ as a single BLAS matmul — but instead of
    thresholding, each task emits each row's LOCAL top-k against the
    opposing block, and a final per-query window reduces the n·(n/B)·k
    candidate stream to the global top-k. Each vector ships once per
    block pair (O(n²/B) transfer); candidate volume is k·n·(n/B), a
    factor B/k below all-pairs. Ranking is deterministic: cosine rounded
    to 6 dp, ties broken by neighbor id, both locally and globally.

    PRACTICAL CEILING — this is the labeled EXACT option and inherently
    quadratic in block pairs: (n/B)² tasks, each one a B×B matmul. At
    B=512 that is ~4M tasks and ~10¹² multiply-adds per 10⁶ vectors·dim —
    fine to n ≈ 10⁶ on a real cluster, ruinous beyond. Past that, use the
    approximate siblings (``lsh_bucketed_topk`` / ``operators.ivf``) or
    ``semantic_dedup_clusters``'s centroid blocking, which replace the
    quadratic pair space with bucketed candidates. The task-count model is
    pinned in tests/test_similarity.py::test_knn_graph_block_pair_count.

    Returns (query_id, neighbor_id, cosine), k rows per vector.
    """
    import numpy as np

    pairs = _knn_block_pairs(embeddings, block_size, id_col, vec_col)

    out_schema = "query_id long, neighbor_id long, cosine double"

    def score(batches):
        for pdf in batches:
            out_q, out_n, out_c = [], [], []
            for _, r in pdf.iterrows():
                ids_a = np.asarray(r["ids_a"], dtype=np.int64)
                ids_b = np.asarray(r["ids_b"], dtype=np.int64)
                X = _unit_rows(np.vstack([np.asarray(v) for v in r["vecs_a"]]))
                Y = _unit_rows(np.vstack([np.asarray(v) for v in r["vecs_b"]]))
                C = np.round(X @ Y.T, 6)
                # self-matches (same id on both sides) must not count
                C[ids_a[:, None] == ids_b[None, :]] = -np.inf
                kk = min(k, C.shape[1])
                # local top-k per row: order by (-cosine, neighbor_id)
                order = np.lexsort((ids_b[None, :].repeat(len(ids_a), 0), -C), axis=1)
                top = order[:, :kk]
                cos = np.take_along_axis(C, top, axis=1)
                valid = np.isfinite(cos)
                qi = np.repeat(ids_a, kk).reshape(len(ids_a), kk)
                out_q.append(qi[valid])
                out_n.append(ids_b[top][valid])
                out_c.append(cos[valid])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    candidates = pairs.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def embedding_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level decontamination: flag every TRAINING vector whose
    cosine to ANY benchmark vector reaches ``threshold`` — the semantic
    sibling of ``dedup.ngram_contamination`` (which catches verbatim
    leakage; this catches paraphrases living in the benchmark's
    neighborhood).

    Scale shape: benchmark suites are small by construction, so the
    benchmark matrix is collected once, L2-normalized, and shipped as a
    broadcast variable; the training corpus is then ONE partitioned scan
    through an Arrow ``mapInPandas`` doing a single BLAS ``X @ Bᵀ`` per
    batch — zero shuffles, no join, cost linear in |train|. (The n-gram
    variant broadcasts a shingle set through a hash join; here the
    "index" is a dense matrix, so the matmul replaces the join.)

    Determinism: cosines are rounded to 6 dp before the max; the matched
    benchmark id breaks ties by SMALLEST bench id (rows are sorted by id
    so argmax's first-occurrence rule implements that). Returns
    (vec_id, bench_vec_id, cosine) — one row per contaminated train
    vector, its best benchmark match, and that cosine.
    """
    import numpy as np

    rows = sorted(
        bench.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    if not rows:
        raise ValueError("benchmark side is empty")
    bids = np.array([r[0] for r in rows], dtype=np.int64)
    B = _unit_rows(np.vstack([np.asarray(r[1]) for r in rows]))
    bc = train.sparkSession.sparkContext.broadcast((bids, B))

    out_schema = f"{id_col} long, bench_vec_id long, cosine double"

    def flag(batches):
        bids_, B_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(
                np.vstack([np.asarray(v) for v in pdf[vec_col]])
            )
            C = np.round(X @ B_.T, 6)
            best = C.argmax(axis=1)  # first occurrence == min bench id
            mx = C[np.arange(len(C)), best]
            hit = mx >= threshold
            if hit.any():
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[hit],
                        "bench_vec_id": bids_[best[hit]],
                        "cosine": mx[hit],
                    }
                )

    return train.select(id_col, vec_col).mapInPandas(flag, out_schema)


def embedding_centroid_outliers(
    embeddings: DataFrame,
    k_outliers: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Flag the ``k_outliers`` vectors least aligned with the corpus
    centroid — the cheap embedding-space health check (mis-embedded rows,
    wrong-modality content, encoder failures drift away from the bulk).

    Everything is EXACT and partitioning-independent, so unlike the
    k-means/PCA contracts this has a full value-level oracle: the
    centroid is per-dim decimal sums over 6-dp-rounded coordinates, and
    every dot/norm term is rounded to 6 dp before its decimal sum, so no
    float summation order exists anywhere. The per-dim frame is a
    d-bounded aggregate (map-side partials); the scoring join broadcasts
    the 64-row centroid; the bottom-k window is rank over cos order —
    TakeOrdered shape at scale.

    Returns (vec_id, cos_centroid, is_outlier).
    """
    from pyspark.sql import Window

    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(vec_col).alias("dim", "xf"),
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    mu = e.groupBy("dim").agg(
        (
            F.sum(F.round("x", 6).cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    terms = e.join(F.broadcast(mu), "dim").groupBy("vec_id").agg(
        F.sum(
            F.round(F.col("x") * F.col("mu"), 6).cast("decimal(27,6)")
        ).cast("double").alias("dot"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 6).cast("decimal(27,6)")
        ).cast("double").alias("nv2"),
    )
    mu_norm2 = mu.agg(
        F.sum(
            F.round(F.col("mu") * F.col("mu"), 6).cast("decimal(27,6)")
        ).cast("double").alias("nm2")
    )
    scored = terms.crossJoin(F.broadcast(mu_norm2)).select(
        "vec_id",
        F.round(
            F.col("dot") / (F.sqrt("nv2") * F.sqrt("nm2")), 6
        ).alias("cos_centroid"),
    )
    w = Window.orderBy("cos_centroid", "vec_id")
    return scored.select(
        "vec_id",
        "cos_centroid",
        (F.row_number().over(w) <= k_outliers).alias("is_outlier"),
    )


def sample_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k_neg: int = 20,
    exclude_topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for each
    query, ``k_neg`` corpus items that are NOT the query itself and NOT
    among its ``exclude_topk`` true nearest neighbors — the standard
    in-batch-negatives replacement when training retrievers/encoders on
    a fixed corpus, made reproducible (hash order, no rand()).

    Selection: candidates ranked by the portable 32-bit hash of
    "query_id:candidate_id" — a per-pair pseudo-random order any engine
    can replicate — take the lowest ``k_neg`` after excluding self and
    true neighbors. Because exclusion uses the EXACT top-k (cosine), the
    negatives are guaranteed hard-negative-free at the chosen depth;
    widen ``exclude_topk`` to trade cleanliness against coverage.

    Scale: queries broadcast against the corpus (the same cost envelope
    as the exact ANN twin — per-query hash rank is a TakeOrdered, no
    global sort); the exclusion join is a broadcast anti-join on
    (query, neighbor).

    Returns (query_id, neg_id, rank), rank 1..k_neg by hash order.
    """
    from ..functions.hashing import portable_hash32

    truth = cosine_topk(embeddings, queries, k=exclude_topk, id_col=id_col)
    pairs = (
        embeddings.select(F.col(id_col).alias("neg_id"))
        .crossJoin(F.broadcast(queries.select(F.col(id_col).alias("query_id"))))
        .filter(F.col("neg_id") != F.col("query_id"))
        .join(
            F.broadcast(
                truth.select("query_id", F.col("neighbor_id").alias("neg_id"))
            ),
            ["query_id", "neg_id"],
            "left_anti",
        )
        .withColumn(
            "h",
            portable_hash32(
                F.concat_ws(":", F.col("query_id"), F.col("neg_id"))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("h", "neg_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_neg)
        .select("query_id", "neg_id", "rank")
    )


def label_centroid_similarity(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine similarity between per-label (per-domain) centroid
    vectors — the domain-similarity map that guides mixture planning
    (which corpora overlap in embedding space, which labels are safe to
    merge, where a dedup pass across domains will bite).

    Fully EXACT and partitioning-independent, like
    :func:`embedding_centroid_outliers`: centroids are per-(label, dim)
    decimal sums of 6-dp-rounded coordinates, and every dot/norm term is
    6-dp rounded before its decimal sum — no float summation order
    anywhere, so the oracle matches value-for-value.

    Scale: the centroid frame is |labels|·d rows (a map-side-combinable
    aggregate); the pairwise stage is a self-join on dim over that tiny
    frame — corpus size only affects the first aggregate.

    Returns (label_a, label_b, cosine) for label_a < label_b.
    """
    e = embeddings.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(vec_col).alias("dim", "xf"),
    ).select("lbl", "dim", F.col("xf").cast("double").alias("x"))
    mu = e.groupBy("lbl", "dim").agg(
        (
            F.sum(F.round("x", 6).cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    ).persist()
    norms = mu.groupBy("lbl").agg(
        F.sqrt(
            F.sum(
                F.round(F.col("mu") * F.col("mu"), 6).cast("decimal(27,6)")
            ).cast("double")
        ).alias("nrm")
    )
    a, b = mu.alias("a"), mu.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.lbl") < F.col("b.lbl")),
        )
        .groupBy(
            F.col("a.lbl").alias("label_a"), F.col("b.lbl").alias("label_b")
        )
        .agg(
            F.sum(
                F.round(F.col("a.mu") * F.col("b.mu"), 6).cast(
                    "decimal(27,6)"
                )
            ).cast("double").alias("dot")
        )
    )
    na = norms.select(F.col("lbl").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("lbl").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
    )


def truncate_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    prefix_dims: int = 32,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style two-stage ANN: candidate generation on the
    PREFIX of the embedding (``prefix_dims`` leading components) + exact
    full-width cosine rerank of ``candidates`` rows per query → top-k.

    The zero-training sibling of ``pca.pca_rerank_topk``: MRL-trained
    embedding models front-load information into the leading dims, so a
    prefix slice is the index — prefix_dims/d of the full footprint with
    no fitting pass, no projection matrix to ship. Recall equals
    candidate recall (the rerank is exact), so the candidate budget is
    the knob: on the near-isotropic fixtures (the worst case — NO
    front-loading, the prefix keeps only half the signal energy)
    prefix 32/64 measures MEAN recall@10 of ~0.73 at C=50, ~0.90 at
    C=100 and ~0.96 at C=150 over the 500-vector corpus (per-query min
    0.5/0.6/0.7) — curve pinned by
    tests/test_similarity.py::test_truncate_rerank_recall_curve.

    Output matches ``cosine_topk``: (query_id, neighbor_id, cosine),
    6-dp rounding, ties by neighbor_id.
    """
    if prefix_dims <= 0:
        raise ValueError("prefix_dims must be positive")
    from pyspark.sql.window import Window

    sl = F.slice(F.col(vec_col), 1, prefix_dims)
    red_corpus = embeddings.select(
        F.col(id_col).alias(id_col), sl.alias(vec_col)
    )
    red_queries = queries.select(
        F.col(id_col).alias(id_col), sl.alias(vec_col)
    )
    cand = cosine_topk(
        red_corpus, red_queries, k=candidates, id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    qf = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    cf = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        cand.join(F.broadcast(qf), "query_id")
        .join(cf, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def silhouette_by_label(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean simplified silhouette — the embedding-space QA
    check for a labeled corpus (are the label clusters real, which
    labels bleed into which).

    Simplified (medoid-free) silhouette: a(i) = distance to the OWN
    label centroid, b(i) = distance to the nearest OTHER centroid,
    s(i) = (b − a) / max(a, b).  The O(n²) pairwise form is the trap;
    the centroid form is one explode pass + a join against the
    label×dim centroid frame (label-count-sized — broadcastable at any
    corpus size), linear in rows.

    Every aggregate is an exact decimal sum of 6-dp-rounded terms
    (same discipline as ``embedding_centroid_outliers``), distances are
    reconstructed as ||x||² − 2x·μ + ||μ||² from those sums, so the
    result is bit-identical across engines and partitionings.

    Returns (label, n_vectors, mean_silhouette), 6-dp rounded.

    The explode/centroid persists are intentionally session-lifetime
    (lazy result; LRU-evictable) — see ``dedup.lsh_candidate_report``.
    """
    e = emb.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("lbl"),
        F.posexplode(vec_col).alias("dim", "xf"),
    ).withColumn("x", F.col("xf").cast("double"))
    # e feeds three aggregations with DIFFERENT grouping keys (mu, nv,
    # dots) — no exchange reuse applies, so without the persist the
    # corpus scan + rows x dims explode executes three times.
    e = e.persist()

    def dsum(col: Column) -> Column:
        return F.sum(F.round(col, 6).cast("decimal(27,6)")).cast("double")

    mu = e.groupBy(F.col("lbl").alias("l"), "dim").agg(
        (dsum(F.col("x")) / F.count(F.lit(1))).alias("mu")
    )
    # mu is consumed by both nm and the dots join
    mu = mu.persist()
    nm = mu.groupBy("l").agg(dsum(F.col("mu") * F.col("mu")).alias("nm2"))
    nv = e.groupBy("vid").agg(dsum(F.col("x") * F.col("x")).alias("nv2"))
    dots = (
        e.join(F.broadcast(mu), "dim")
        .groupBy("vid", "lbl", "l")
        .agg(dsum(F.col("x") * F.col("mu")).alias("dot"))
    )
    dist = (
        dots.join(F.broadcast(nm), "l")
        .join(nv, "vid")
        .withColumn(
            "d",
            F.sqrt(
                F.greatest(
                    F.col("nv2") - 2 * F.col("dot") + F.col("nm2"),
                    F.lit(0.0),
                )
            ),
        )
    )
    per_vec = dist.groupBy("vid", "lbl").agg(
        F.min(F.when(F.col("l") == F.col("lbl"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("l") != F.col("lbl"), F.col("d"))).alias("b"),
    )
    s = per_vec.withColumn(
        "s",
        F.when(
            F.greatest("a", "b") > 0,
            F.round(
                (F.col("b") - F.col("a")) / F.greatest("a", "b"), 6
            ),
        ).otherwise(F.lit(0.0)),
    )
    return s.groupBy(F.col("lbl").alias(label_col)).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(dsum(F.col("s")) / F.count(F.lit(1)), 6).alias(
            "mean_silhouette"
        ),
    )


def rrf_fuse(
    ranked: list[tuple[DataFrame, str]],
    id_col: str = "doc_id",
    k_const: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of top-k ranked lists (hybrid retrieval:
    the standard way to combine a sparse/BM25 list with a dense/ANN list
    without score calibration — Cormack et al. 2009).

    ``ranked`` = [(df, out_rank_col), ...]; each df carries
    (``id_col``, ``rank``) for ONE query's top-k. Items missing from a
    list contribute 0 (the top-k cutoff convention). Score =
    Σ 1/(k_const + rank), rounded to 6 dp; ties break on id.

    Scale shape: inputs are top-k lists (bounded by construction), so
    the outer-join cascade and the final ordering run over Σk rows —
    the expensive work is the upstream retrievals, which keep their own
    scale paths (BM25: scalar corpus stats broadcast; ANN: LSH/IVF).
    For many-query fusion, fuse per query id and swap the global
    ordering for a per-query window.
    """
    if not ranked:
        raise ValueError("need at least one ranked list")
    joined = None
    for df, name in ranked:
        cur = df.select(F.col(id_col), F.col("rank").alias(name))
        joined = cur if joined is None else joined.join(cur, id_col, "outer")
    score = None
    for _, name in ranked:
        c = F.coalesce(
            F.lit(1.0) / (F.lit(float(k_const)) + F.col(name)), F.lit(0.0)
        )
        score = c if score is None else score + c
    out = joined.withColumn("rrf_score", F.round(score, 6))
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= topk)
        .drop("__rn")
    )
