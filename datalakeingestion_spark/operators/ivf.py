"""IVF (inverted-file) approximate nearest neighbors.

The coarse-quantizer alternative to LSH bucketing: k-means centroids
partition the corpus into cells; a query probes only its ``nprobe``
nearest cells and exact-reranks the candidates. Versus multi-table LSH,
IVF adapts to the data distribution (cells follow density) at the cost of
a training pass.

Everything is deterministic, by construction:
- init: the k vectors with the smallest portable-hash(vec_id) — a seeded
  uniform sample with no RNG state;
- Lloyd iterations use exact decimal sums for the centroid means, so
  partitioning order cannot perturb centroids;
- assignment ties break toward the lower centroid id.

Scale shape: training runs on a (deterministic) sample; assignment and
query probing are one numpy matmul per Arrow batch (pandas UDF) — the
corpus shuffles ONCE on cell id when materializing the index, and a query
touches nprobe/k of the data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..functions.hashing import portable_hash32
from ..utils import bounded_collect


def _unit(X: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return X / n


def _assign_udf(centroids: np.ndarray):
    """Cell id of the nearest centroid — top-1 of the shared `_topcells_udf`
    kernel, so training assignment and index/query cell selection can never
    desynchronize.

    Spherical k-means: vectors are unit-normalized before assignment so
    cell geometry matches the COSINE ranking metric (plain-L2 cells over
    unnormalized vectors scatter cosine neighbors across cells — measured
    recall drop from ~0.9 to ~0.5 on the fixtures). Ties → lower id
    (stable argsort).
    """
    top1 = _topcells_udf(centroids, 1)

    def assign(col):
        return F.element_at(top1(col), 1)

    return assign


# Size-adaptive cutoff for running the Lloyd loop on the DRIVER: at or
# under this many vectors, ONE collect replaces the init job, the base
# checkpoint job, and one aggregate job per iteration (guide §2.2 —
# training runs on a sample by contract, and a sample this small spends
# its whole distributed budget on job-scheduling floor). The decimal
# mean arithmetic is collected FROM Spark (the same decimal(28,12)
# cast the distributed aggregate applies), so the two paths are
# bit-identical by construction — pinned by
# tests/test_ivf_maintenance.py::test_train_centroids_local_matches_distributed.
MAX_LOCAL_TRAIN_VECTORS = 20_000


def _train_local(rows, k: int, iters: int) -> np.ndarray:
    """Driver-side Lloyd twin of the distributed loop below. ``rows``
    carry (__h, __id, __vec raw, __vdec = unit vec pre-cast to
    decimal(28,12) BY SPARK). Means: exact integer sums of the scaled
    decimals, then the identical float(sum)/n division."""
    from decimal import Decimal

    init = sorted(rows, key=lambda r: (r["__h"], r["__id"]))[:k]
    centroids = _unit(
        np.array([list(r["__vec"]) for r in init], dtype=np.float64)
    )
    if iters <= 0 or not rows:
        return centroids
    raw = np.vstack([list(r["__vec"]) for r in rows]).astype(np.float64)
    X = _unit(raw)
    # decimal(28,12) components of unit vectors are |x| <= 1, so the
    # scaled-integer sum of n <= 20k of them is < 2e16 — int64-exact
    vint = np.array(
        [[int(x.scaleb(12)) for x in r["__vdec"]] for r in rows],
        dtype=np.int64,
    )
    dim = vint.shape[1]
    for _ in range(iters):
        mat = _unit(centroids.astype(np.float64))
        # same kernel as _topcells_udf top-1: stable argsort on -cosine
        cells = np.argsort(-(X @ mat.T), axis=1, kind="stable")[:, 0]
        sums = np.zeros((k, dim), dtype=np.int64)
        np.add.at(sums, cells, vint)
        counts = np.bincount(cells, minlength=k)
        new = centroids.copy()
        for c in range(k):
            if counts[c] == 0:
                continue  # empty cells keep their previous centroid
            for d in range(dim):
                new[c, d] = float(Decimal(int(sums[c, d])).scaleb(-12)) / int(
                    counts[c]
                )
        centroids = new
    return centroids


def train_centroids(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic Lloyd k-means; returns a k×dim float64 matrix."""
    # normalized copies feed the mean computation (spherical k-means)
    norm_expr = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    unit_vec = F.transform(
        F.col(vec_col), lambda x: x.cast("double") / F.greatest(norm_expr, F.lit(1e-12))
    )

    # size-adaptive local Lloyd: when the sample fits the driver bound,
    # one collect (raw vec for the assignment kernel, unit vec pre-cast
    # to decimal(28,12) by the SAME Spark cast the distributed aggregate
    # uses) replaces init + checkpoint + per-iteration jobs. Past the
    # bound no column of this projection has been computed or shipped:
    # the decision selects a literal in its place.
    head = bounded_collect(
        embeddings.select(
            portable_hash32(F.col(id_col).cast("string")).alias("__h"),
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            F.transform(
                unit_vec, lambda x: x.cast("decimal(28,12)")
            ).alias("__vdec"),
        ),
        MAX_LOCAL_TRAIN_VECTORS,
    )
    if head is not None:
        return _train_local(head.to_pylist(), k, iters)

    init = (
        embeddings.select(id_col, vec_col)
        .withColumn("__h", portable_hash32(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = _unit(np.array([list(r[0]) for r in init], dtype=np.float64))

    # one pass over the source: Lloyd's loop otherwise re-reads the
    # corpus AND re-normalizes every vector once per iteration (iters
    # full scans instead of one — guide §5; values identical, the loop
    # consumes the same (unit vec, raw vec) rows either way). Local
    # checkpoint rather than persist: blocks free with the frame, and
    # the loop's per-iteration plans stay lineage-free. Production
    # note: training at 100 TB runs on a sample by contract, so the
    # checkpointed copy is sample-sized, not corpus-sized. Guarded so
    # the iters=0 hash-seeded path (ivf_trained_recall_delta's
    # baseline) pays no corpus pass at all, as before.
    if iters > 0:
        loop_base = embeddings.select(
            unit_vec.alias("v"), F.col(vec_col)
        ).localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = loop_base.select(
            "v",
            _assign_udf(centroids)(F.col(vec_col)).alias("cell"),
        )
        # decimal-exact per-dimension means → order-independent centroids
        sums = (
            assigned.select(
                "cell", F.posexplode("v").alias("dim", "x")
            )
            .groupBy("cell", "dim")
            .agg(
                F.sum(F.col("x").cast("decimal(28,12)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = centroids.copy()
        counts = np.zeros(len(centroids), dtype=np.int64)
        for r in sums:
            new[r["cell"], r["dim"]] = float(r["s"]) / r["n"]
            counts[r["cell"]] = r["n"]
        # empty cells keep their previous centroid
        centroids = new
    return centroids


def _topcells_udf(centroids: np.ndarray, n: int):
    """Top-n nearest cell ids (stable order, cosine geometry)."""
    mat = _unit(centroids.astype(np.float64))

    @F.pandas_udf("array<int>")
    def topcells(col: pd.Series) -> pd.Series:
        X = _unit(np.vstack(col.to_numpy()).astype(np.float64))
        order = np.argsort(-(X @ mat.T), axis=1, kind="stable")[:, :n]
        return pd.Series(list(order.astype("int32")))

    return topcells


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    assign_n: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate cosine top-k probing the nprobe nearest cells.

    ``centroids`` (k×dim) skips training and probes with the given
    coarse quantizer — for callers that already trained one (the
    trainer is deterministic, pinned by
    tests/test_ivf_maintenance.py::test_ivf_centroids_deterministic,
    so passing ``train_centroids``' output is value-identical to
    retraining here).

    ``assign_n`` multi-assigns every CORPUS vector to its assign_n nearest
    cells (FAISS-style index redundancy). Boundary vectors — the ones a
    single-cell index loses — then sit in both adjacent cells: on the
    weakly-clustered fixture vectors recall@10 goes 0.70 → 0.90 at
    (16 cells, nprobe 6) for a 2× larger index and unchanged query fan-out.
    Set assign_n=1 for the classic disjoint-cell IVF.

    Output schema matches ``similarity.cosine_topk``:
    (query_id, neighbor_id, cosine), cosine rounded to 6 dp, ties by id.
    """
    if centroids is None:
        centroids = train_centroids(
            embeddings, n_centroids, iters, id_col, vec_col
        )
    corpus = _corpus_cells(embeddings, centroids, assign_n, id_col, vec_col)
    q = _query_cells(queries, centroids, nprobe, id_col, vec_col)
    # with assign_n=1 cells are disjoint and a distinct would be a pure
    # extra shuffle; multi-assignment can surface a pair through several
    # shared cells, so it dedups before ranking
    return _score_topk(corpus, q, k, dedup=assign_n > 1)


def _corpus_cells(embeddings, centroids, assign_n, id_col, vec_col):
    """Corpus side of the IVF join — (neighbor_id, c_vec, c_norm, cell).
    Single source for the inline probe AND the persisted index's cell
    table, so the two can never drift."""
    from .similarity import _norm

    return embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
        F.explode(_topcells_udf(centroids, assign_n)(F.col(vec_col))).alias(
            "cell"
        ),
    )


def _query_cells(queries, centroids, nprobe, id_col, vec_col):
    """Query side of the IVF join — (query_id, q_vec, q_norm, cell)."""
    from .similarity import _norm

    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode(_topcells_udf(centroids, nprobe)(F.col(vec_col))).alias(
            "cell"
        ),
    )


def _score_topk(corpus, q, k: int, dedup: bool) -> DataFrame:
    """The score/rank kernel shared VERBATIM by ``ivf_topk`` and
    ``ivf_topk_stored`` — the registered stored-vs-inline contract
    asserts exact set equality, which only holds while rounding,
    tie-breaks and the dedup gate live in one place."""
    from .similarity import _dot

    scored = (
        corpus.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
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
    if dedup:
        scored = scored.distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def build_ivf_index(
    embeddings: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    iters: int = 5,
    assign_n: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
) -> np.ndarray:
    """Train once, persist the IVF index — the production shape of
    ``ivf_topk`` (which retrains and re-assigns the corpus per call,
    fine for a one-shot query, fatal at 100 TB where the corpus scan is
    the dominant cost).

    Layout at ``index_path``:

    - ``centroids/``  (cell, dim, value) — the trained coarse quantizer,
      k×dim rows (driver-scale metadata);
    - ``cells/``      (neighbor_id, c_vec, c_norm), parquet PARTITIONED
      by ``cell`` — one directory per inverted list;
    - ``meta/``       one row (n_centroids, assign_n, id_col, vec_col)
      so probe/append can never desynchronize from the build config.

    The cells table is directory-PARTITIONED by cell rather than
    bucketed (contrast ``dedup.build_dedup_index``, which buckets on
    band_sig): the cell key's cardinality is exactly ``n_centroids`` —
    bounded and known — so partition pruning at file-listing time gives
    each probe its nprobe inverted lists for free (plan shows
    ``PartitionFilters: cell IN (...)``; pinned in
    tests/test_ivf_maintenance.py), and per-batch appends are plain new
    files inside existing cell directories with no metastore bucketing
    spec to keep in sync. band_sig has unbounded cardinality, so the
    dedup index NEEDS hash bucketing; a cell id does not.

    Returns the trained centroid matrix (k×dim float64).

    ``centroids`` skips training and persists the given quantizer —
    same caveat as ``ivf_topk``: only valid with the deterministic
    ``train_centroids`` output for the SAME embeddings/config, which
    is what the caller would have gotten here anyway.
    """
    if centroids is None:
        centroids = train_centroids(
            embeddings, n_centroids, iters, id_col, vec_col
        )
    spark = embeddings.sparkSession
    k, dim = centroids.shape
    if k != n_centroids:
        # a caller-supplied matrix must agree with the declared config,
        # or meta/ would silently desynchronize from the stored cells
        raise ValueError(
            f"build_ivf_index: centroids has {k} rows but "
            f"n_centroids={n_centroids}"
        )
    _write_quantizer_meta(
        spark, index_path, centroids, assign_n, id_col, vec_col
    )
    _write_cells(embeddings, index_path, centroids, assign_n, id_col,
                 vec_col, mode="overwrite")
    return centroids


def _write_quantizer_meta(
    spark, index_path, centroids, assign_n, id_col, vec_col
) -> None:
    """centroids/ + meta/ are k×dim+1 rows of driver-resident data —
    written driver-side (utils.write_driver_parquet), not as two Spark
    jobs per build/split."""
    import pyarrow as pa

    from ..utils import write_driver_parquet

    k, dim = centroids.shape
    write_driver_parquet(
        spark,
        pa.Table.from_arrays(
            [
                pa.array(
                    [c for c in range(k) for _ in range(dim)], pa.int32()
                ),
                pa.array(list(range(dim)) * k, pa.int32()),
                pa.array(
                    [float(centroids[c, d]) for c in range(k) for d in range(dim)],
                    pa.float64(),
                ),
            ],
            names=["cell", "dim", "value"],
        ),
        f"{index_path}/centroids",
        overwrite=True,
    )
    write_driver_parquet(
        spark,
        pa.Table.from_arrays(
            [
                pa.array([k], pa.int32()),
                pa.array([assign_n], pa.int32()),
                pa.array([id_col], pa.string()),
                pa.array([vec_col], pa.string()),
            ],
            names=["n_centroids", "assign_n", "id_col", "vec_col"],
        ),
        f"{index_path}/meta",
        overwrite=True,
    )


def _write_cells(
    embeddings, index_path, centroids, assign_n, id_col, vec_col, mode
):
    """Assign vectors to their assign_n nearest cells and write the
    inverted lists — the cell table is ``_corpus_cells`` persisted, so
    build/append and the inline probe share one projection."""
    (
        _corpus_cells(embeddings, centroids, assign_n, id_col, vec_col)
        .write.mode(mode)
        .option("partitionOverwriteMode", "static")
        .partitionBy("cell")
        .parquet(f"{index_path}/cells")
    )


def read_ivf_index(spark, index_path: str):
    """(centroids k×dim float64, meta row) from a stored index."""
    rows = spark.read.parquet(f"{index_path}/centroids").collect()
    k = 1 + max(r["cell"] for r in rows)
    dim = 1 + max(r["dim"] for r in rows)
    centroids = np.zeros((k, dim), dtype=np.float64)
    for r in rows:
        centroids[r["cell"], r["dim"]] = r["value"]
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    return centroids, meta


def append_ivf_index(
    batch: DataFrame, index_path: str, batch_id: str | None = None
) -> bool:
    """Per-batch index maintenance: assign an ingested batch against the
    STORED centroids (no retraining — the quantizer stays fixed between
    rebuilds, FAISS-style) and append its inverted-list rows. Appending
    to a cell-partitioned table is new files in existing directories;
    probes see the union immediately. Rebuild with ``build_ivf_index``
    when drift makes the frozen centroids stale (the
    ``kmeans_profile`` coherence contract is the drift signal).

    Replay safety: pass ``batch_id`` and a re-delivered batch is a
    NO-OP (an append-only epoch ledger at ``{index_path}/epochs`` is
    consulted first — the streaming door's replay-guard pattern).
    Without a batch_id the append is at-least-once and a driver retry
    duplicates rows; ``ivf_topk_stored`` dedups scored pairs before
    ranking, so duplicates cost probe work but never corrupt the top-k.
    Returns True iff rows were appended.
    """
    spark = batch.sparkSession
    if batch_id is not None and _epoch_seen(spark, index_path, batch_id):
        return False
    centroids, meta = read_ivf_index(spark, index_path)
    _write_cells(
        batch,
        index_path,
        centroids,
        int(meta["assign_n"]),
        meta["id_col"],
        meta["vec_col"],
        mode="append",
    )
    if batch_id is not None:
        import uuid

        import pyarrow as pa

        from ..utils import write_driver_parquet

        write_driver_parquet(
            spark,
            pa.Table.from_arrays(
                [pa.array([batch_id], pa.string())], names=["batch_id"]
            ),
            f"{index_path}/epochs",
            filename=f"part-{uuid.uuid4().hex}.snappy.parquet",
        )
    return True


def _epoch_seen(spark, index_path: str, batch_id: str) -> bool:
    """True iff ``batch_id`` is already in the append ledger. Only the
    path-missing case means "first append"; any other read failure
    re-raises — a transient ledger error masquerading as "not seen"
    would silently downgrade a keyed, replay-safe append to
    at-least-once (same narrow-catch contract as
    streaming/shards.py::_read_manifest_raw)."""
    try:
        ledger = spark.read.parquet(f"{index_path}/epochs")
    except AnalysisException as e:  # first append: no ledger yet
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg:
            return False
        raise
    return not ledger.filter(F.col("batch_id") == batch_id).isEmpty()


def ivf_topk_stored(
    spark,
    queries: DataFrame,
    index_path: str,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe a stored IVF index: identical semantics to ``ivf_topk``
    (same kernel, same rounding, same tie-breaks) but the corpus side is
    the persisted inverted lists — ZERO corpus-side Exchange, and
    partition pruning reads only the probed cells' directories.

    The probed-cell set is collected driver-side to drive partition
    pruning — bounded by min(n_queries × nprobe, n_centroids), and a
    query set is small by design (it broadcasts in the score join).

    Scored pairs are ALWAYS deduped before ranking here (inline
    ``ivf_topk`` skips it for assign_n=1 where cells are disjoint):
    stored inverted lists may carry duplicate rows from retried
    unkeyed appends, and without the dedup a duplicate would occupy
    two of the k output slots. Same result set either way.
    """
    centroids, meta = read_ivf_index(spark, index_path)
    q = _query_cells(
        queries, centroids, nprobe, meta["id_col"], meta["vec_col"]
    ).localCheckpoint(eager=False)  # cells consumed twice: prune + join
    probe_cells = sorted(
        r["cell"] for r in q.select("cell").distinct().collect()
    )
    corpus = spark.read.parquet(f"{index_path}/cells").filter(
        F.col("cell").isin(probe_cells)
    )
    return _score_topk(corpus, q, k, dedup=True)


def split_hot_cells(
    spark,
    index_path: str,
    max_skew: float = 2.0,
    max_splits: int = 1,
    iters: int = 3,
    cells: list[int] | None = None,
    train_sample_cap: int = 100_000,
) -> dict:
    """Detect→REPAIR for a skewed stored index: re-train k'=2
    sub-centroids INSIDE an oversized cell and rewrite only that cell's
    directory — at 100 TB the difference between a touch-up that moves
    one inverted list and a full-corpus retrain
    (``ivf_index_health_report`` detects the skew; this closes the
    loop, the way ``compact_delivery`` closes the shard ledger's).

    Per split (hottest first; ``cells`` overrides detection):

    1. read ONLY the hot cell's directory (partition pruning — the rest
       of the index is never scanned);
    2. deterministic spherical 2-means over its rows (same
       ``train_centroids`` machinery: hash-seeded init, decimal-exact
       means);
    3. binary-partition the rows between the two sub-centroids (ties →
       the surviving cell id) — the row SET is conserved exactly, so
       multi-assignment coverage (``assign_n`` × corpus) is an
       invariant of the repair;
    4. write the moved half as a NEW cell directory, then commit the
       new geometry (centroids + meta — the old cell's centroid becomes
       sub-A, sub-B appends as cell k), then rewrite the split cell's
       directory without the moved rows.

    The write order makes every crash window DUPLICATE-shaped, never
    loss-shaped, and every re-run CONVERGES:

    - the moved half is written first (a directory no probe knows);
    - then a one-row SPLIT LOG commits the (src, new) intent, then the
      geometry (centroids + meta) — from that point the moved rows
      exist in both directories and ``ivf_topk_stored`` dedups scored
      pairs, so probe results stay correct;
    - the split cell is then rewritten via STAGE-AND-SWAP
      (``_split_staging`` write, verified complete via its _SUCCESS
      marker, then delete+rename through Hadoop FS) — never a plain
      ``mode("overwrite")`` of the live directory, whose delete-then-
      write would LOSE the kept half if the job died mid-write;
    - the log clears last. Recovery runs at the START of every call:
      a logged split whose geometry never committed is rolled back
      (orphan directory removed), one whose geometry did commit is
      FINISHED from durable state (the kept half is re-derivable from
      the committed sub-centroids — rows nearer the surviving centroid
      than the new one), so a crashed split can never double-split into
      a second new cell, and un-logged orphan directories (ids the
      centroid table doesn't know) are deleted.

    Cells whose rows cannot produce two non-empty halves (all vectors
    identical) are skipped.

    Returns ``{"split": [(old_cell, new_cell), ...], "skipped": [...],
    "recovered": [...], "sizes_before": {...}, "sizes_after": {...}}``
    — all k-scale.
    """
    report = {"split": [], "skipped": [], "recovered": [],
              "sizes_before": {}, "sizes_after": {}}
    report["recovered"] = _recover_splits(spark, index_path)
    for _ in range(max(1, max_splits)):
        centroids, meta = read_ivf_index(spark, index_path)
        k = len(centroids)
        sizes = {
            r["cell"]: r["n"]
            for r in spark.read.parquet(f"{index_path}/cells")
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: k rows
        }
        if not report["sizes_before"]:
            report["sizes_before"] = dict(sizes)
        if cells is not None:
            todo = [c for c in cells if c in sizes
                    and c not in [s for s, _ in report["split"]]
                    and c not in report["skipped"]]
        else:
            mean = sum(sizes.values()) / len(sizes)
            todo = sorted(
                (c for c, n in sizes.items()
                 if n > max_skew * mean and c not in report["skipped"]),
                # lower id breaks size ties: collect() order is
                # partition-dependent and this module's contract is
                # deterministic-by-construction
                key=lambda c: (-sizes[c], c),
            )
        if not todo:
            break
        c = todo[0]
        rows = (
            spark.read.option("basePath", f"{index_path}/cells")
            .parquet(f"{index_path}/cells")
            .filter(F.col("cell") == c)  # partition-pruned: one directory
            .select("neighbor_id", "c_vec", "c_norm")
        )
        # train the 2-means on a DETERMINISTIC hash-sample (~100k rows):
        # the decimal-exact Lloyd pass is linear in training rows, and a
        # binary split needs nowhere near the full cell to place two
        # centroids (10M-vec probe: full-cell training cost rivaled an
        # iters=0 REBUILD, defeating the point of a targeted repair);
        # assignment below still covers EVERY row, so conservation and
        # determinism are untouched
        cap = max(2, train_sample_cap)
        if sizes[c] > cap:
            ratio = sizes[c] // cap + 1
            train_rows = rows.filter(
                F.pmod(
                    portable_hash32(F.col("neighbor_id").cast("string")),
                    F.lit(ratio),
                )
                == 0
            )
        else:
            train_rows = rows
        sub = train_centroids(
            train_rows, k=2, iters=iters, id_col="neighbor_id",
            vec_col="c_vec",
        )
        # binary partition between the two halves; EAGER checkpoint —
        # the final step overwrites the directory these rows were read
        # from, so they must be materialized off it first (a hot cell is
        # ~assign_n x corpus/k rows: maintenance-scale, not corpus-scale)
        assigned = rows.withColumn(
            "_half", F.element_at(_topcells_udf(sub, 1)("c_vec"), 1)
        ).localCheckpoint(eager=True)
        keep = assigned.filter(F.col("_half") == 0).drop("_half")
        move = assigned.filter(F.col("_half") == 1).drop("_half")
        if move.limit(1).count() == 0 or keep.limit(1).count() == 0:
            report["skipped"].append(c)
            continue
        new_id = k
        # 1) the moved half lands in a directory no probe knows yet
        move.write.mode("overwrite").parquet(
            f"{index_path}/cells/cell={new_id}"
        )
        # 2) log the split intent, then commit the new geometry
        #    (duplicates now visible; dedup-safe)
        import pyarrow as pa

        from ..utils import write_driver_parquet

        write_driver_parquet(
            spark,
            pa.Table.from_arrays(
                [pa.array([int(c)], pa.int32()), pa.array([int(new_id)], pa.int32())],
                names=["src", "new"],
            ),
            f"{index_path}/_split_log",
            overwrite=True,
        )
        new_centroids = np.vstack([centroids, sub[1:2]])
        new_centroids[c] = sub[0]
        _write_quantizer_meta(
            spark,
            index_path,
            new_centroids,
            int(meta["assign_n"]),
            meta["id_col"],
            meta["vec_col"],
        )
        # 3) drop the moved rows from the split cell via stage-and-swap
        #    (crash-safe: the kept half is durable in staging before the
        #    live directory is touched), then clear the log
        _finish_split(spark, index_path, c, new_id)
        _clear_split_log(spark, index_path)
        report["split"].append((c, new_id))
    report["sizes_after"] = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(f"{index_path}/cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return report


def _split_log_entry(spark, index_path: str) -> tuple[int, int] | None:
    """The pending (src, new) split, or None. Narrow catch: only a
    missing log means 'nothing pending' (same contract as
    ``_epoch_seen``)."""
    try:
        rows = spark.read.parquet(f"{index_path}/_split_log").collect()
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg:
            return None
        raise
    return (rows[0]["src"], rows[0]["new"]) if rows else None


def _clear_split_log(spark, index_path: str) -> None:
    from .shards import _hadoop_fs

    fs, p = _hadoop_fs(spark, f"{index_path}/_split_log")
    if fs.exists(p):
        fs.delete(p, True)


def _finish_split(spark, index_path: str, c: int, new_id: int) -> None:
    """Remove the moved half from the split cell's directory, crash-
    safely and idempotently: the kept half (rows nearer the surviving
    centroid than the new one, ties keep) is re-derivable from the
    COMMITTED geometry, staged to ``_split_staging`` (completeness
    proven by the write's _SUCCESS marker), and only then swapped in
    via Hadoop-FS delete+rename. A plain ``mode("overwrite")`` of the
    live directory would delete it before the job commits — a crash
    mid-write would LOSE the kept half. Here every crash point leaves
    either the old directory (with harmless, probe-deduped duplicates)
    or a complete staged copy."""
    from .shards import _hadoop_fs

    cell_dir = f"{index_path}/cells/cell={c}"
    stage_dir = f"{index_path}/_split_staging/cell={c}"
    fs, cell_p = _hadoop_fs(spark, cell_dir)
    _, stage_p = _hadoop_fs(spark, stage_dir)
    _, success_p = _hadoop_fs(spark, f"{stage_dir}/_SUCCESS")
    staged_complete = fs.exists(stage_p) and fs.exists(success_p)
    if not fs.exists(cell_p):
        if not staged_complete:
            raise RuntimeError(
                f"cell directory {cell_dir} is missing and no complete "
                f"staged copy exists — index is damaged beyond this "
                f"repair; rebuild with build_ivf_index"
            )
        fs.rename(stage_p, cell_p)
        return
    if not staged_complete:
        centroids, _meta = read_ivf_index(spark, index_path)
        pair = np.vstack([centroids[c], centroids[new_id]])
        keep = (
            spark.read.option("basePath", f"{index_path}/cells")
            .parquet(f"{index_path}/cells")
            .filter(F.col("cell") == c)
            .select("neighbor_id", "c_vec", "c_norm")
            .withColumn(
                "_half", F.element_at(_topcells_udf(pair, 1)("c_vec"), 1)
            )
            .filter(F.col("_half") == 0)
            .drop("_half")
        )
        if fs.exists(stage_p):  # incomplete leftover from a prior crash
            fs.delete(stage_p, True)
        keep.write.mode("overwrite").parquet(stage_dir)
        if not fs.exists(success_p):
            raise RuntimeError(
                f"staging write at {stage_dir} produced no _SUCCESS "
                f"marker (committer configured without success files?) "
                f"— refusing the live swap without proof of completeness"
            )
    fs.delete(cell_p, True)
    fs.rename(stage_p, cell_p)
    _, stage_root = _hadoop_fs(spark, f"{index_path}/_split_staging")
    fs.delete(stage_root, True)


def _recover_splits(spark, index_path: str) -> list[tuple[int, int]]:
    """Converge any crashed split before new work: a logged split whose
    geometry never committed rolls back (orphan directory deleted); one
    whose geometry committed is finished from durable state; un-logged
    orphan cell directories (ids the centroid table doesn't know —
    a crash between the move-write and the log) are deleted. Returns
    the (src, new) pairs it finished."""
    from .shards import _hadoop_fs

    finished: list[tuple[int, int]] = []
    pending = _split_log_entry(spark, index_path)
    centroids, _meta = read_ivf_index(spark, index_path)
    k = len(centroids)
    if pending is not None:
        c, new_id = pending
        if new_id < k:  # geometry committed: finish the swap
            _finish_split(spark, index_path, c, new_id)
            finished.append((c, new_id))
        else:  # geometry never committed: roll the move-write back
            fs, p = _hadoop_fs(spark, f"{index_path}/cells/cell={new_id}")
            if fs.exists(p):
                fs.delete(p, True)
        _clear_split_log(spark, index_path)
    # un-logged orphans: directories for cells the geometry doesn't know
    fs, cells_root = _hadoop_fs(spark, f"{index_path}/cells")
    for st in fs.listStatus(cells_root):
        name = st.getPath().getName()
        if name.startswith("cell="):
            try:
                cid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if cid >= k:
                fs.delete(st.getPath(), True)
    return finished


def kmeans_profile(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    min_coherence_lift: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster the embedding corpus with deterministic spherical k-means
    (`train_centroids`) and emit a single-row QUALITY CONTRACT — the
    checkable face of an unsupervised operator (same design as the ANN
    recall contracts): an exact column an external oracle can recompute,
    plus bound booleans the engine must satisfy.

    Columns:
      - n_vectors: total vectors clustered (oracle-exact);
      - n_clusters_used: non-empty cells (must be in [2, k]);
      - clusters_ok: the above bound;
      - coherence_ok: mean cosine-to-own-centroid exceeds the
        single-cluster baseline (mean cosine to the GLOBAL centroid) by
        >= min_coherence_lift — k-means must beat k=1, or the clustering
        is vacuous. Measured lift on the fixtures: 0.22 at sf0.001 AND
        sf0.01 (re-measure if fixtures regenerate); bound 0.1.

    (The fixture's `label` column is NOT part of the contract: measured
    majority-label purity is ~0.16 ≈ random — the labels do not encode
    embedding geometry, so a purity bound would pin noise.)

    Everything driver-facing is deterministic: hash-seeded init,
    decimal-exact centroid means, stable tie-breaks.

    Scale: training cost is iters × (one pandas-UDF scan + a (k×dim)
    grouped decimal sum); the profile pass is one scan + two tiny
    aggregates. Centroids ride in the UDF closure (k×dim broadcast).
    """
    import numpy as np

    centroids = train_centroids(embeddings, k, iters, id_col, vec_col)
    mat = _unit(centroids.astype(np.float64))
    gc = _unit(mat.mean(axis=0, keepdims=True))

    @F.pandas_udf("struct<cell:int,cos_own:double,cos_global:double>")
    def profile(col: pd.Series) -> pd.DataFrame:
        X = _unit(np.vstack(col.to_numpy()).astype(np.float64))
        sims = X @ mat.T
        order = np.argsort(-sims, axis=1, kind="stable")
        cell = order[:, 0].astype("int32")
        cos_own = sims[np.arange(len(X)), cell]
        cos_global = (X @ gc.T)[:, 0]
        return pd.DataFrame(
            {"cell": cell, "cos_own": cos_own, "cos_global": cos_global}
        )

    assigned = embeddings.select(profile(F.col(vec_col)).alias("p")).select(
        "p.cell", "p.cos_own", "p.cos_global"
    )
    # decimal sums -> order-independent means (6 dp already ample; the
    # booleans compare with a wide margin anyway)
    stats = assigned.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.count_distinct("cell").alias("n_clusters_used"),
        F.sum(F.round("cos_own", 6).cast("decimal(27,6)")).alias("s_own"),
        F.sum(F.round("cos_global", 6).cast("decimal(27,6)")).alias("s_glob"),
    )
    return stats.select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.col("n_clusters_used").cast("long").alias("n_clusters_used"),
        (
            (F.col("n_clusters_used") >= 2) & (F.col("n_clusters_used") <= k)
        ).alias("clusters_ok"),
        (
            (F.col("s_own") - F.col("s_glob")).cast("double")
            / F.col("n_vectors")
            >= min_coherence_lift
        ).alias("coherence_ok"),
    )
