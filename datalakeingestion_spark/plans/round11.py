"""Round-11 queries: training-data shard delivery and the persisted IVF
index — the two remaining "last mile" pieces of the LLM pipeline
(VERDICT r10 items #2/#3).

Portability notes as in plans/llm.py: tokenization twins share one
normalized-string recipe; digests are md5 over deterministically ordered
material; DuckDB window/group SUM(BIGINT) returns HUGEINT and is CAST
back to BIGINT everywhere it reaches a result column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import n_tokens_of
from ..sources.fixtures import load_table
from ..utils import driver_frame
from .llm import TOKS_SQL
from .registry import register

# ---------------------------------------------------------------------------
# Training-data shard delivery (manifest contract)
# ---------------------------------------------------------------------------

_SEQ_BUDGET = 512
_SHARD_BUDGET = 4096


def _pack_shard_ctes(
    tok_src: str, order_sql: str = "doc_id", prefix: str = ""
) -> str:
    """The pack→shard CTE chain over ``tok_src`` (SQL yielding
    (doc_id, n_tokens)): two-level prefix-sum assignment, shared by the
    manifest oracle, the delivery-contract oracle, the curated capstone
    and the round-12 curriculum/upsampling/efficiency queries so the
    assignment semantics exist in ONE place. ``order_sql`` overrides the
    pack order (must be a total order; the default is the id itself).
    ``prefix`` namespaces the CTEs ({prefix}t … {prefix}j) so ONE oracle
    can instantiate the chain several times (e.g. to compare pack
    orders) without name collisions; the default yields the historical
    unprefixed names."""
    x = prefix
    return f"""
    {x}t AS ({tok_src}),
    {x}c AS (SELECT doc_id, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                     ORDER BY {order_sql}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cb
          FROM {x}t),
    {x}p AS (SELECT doc_id, n_tokens, CAST(cb // {_SEQ_BUDGET} AS BIGINT)
                     AS seq_id
          FROM {x}c),
    {x}s AS (SELECT seq_id, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
          FROM {x}p GROUP BY seq_id),
    {x}sc AS (SELECT seq_id,
                  COALESCE(SUM(seq_tokens) OVER (
                      ORDER BY seq_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS scb
           FROM {x}s),
    {x}sh AS (SELECT seq_id, CAST(scb // {_SHARD_BUDGET} AS BIGINT)
                  AS shard_id
           FROM {x}sc),
    {x}j AS (SELECT {x}sh.shard_id, {x}p.seq_id, {x}p.n_tokens,
                 md5(CAST({x}p.doc_id AS VARCHAR) || ':'
                     || CAST({x}p.n_tokens AS VARCHAR) || ':'
                     || CAST({x}p.seq_id AS VARCHAR)) AS fp
          FROM {x}p JOIN {x}sh ON {x}sh.seq_id = {x}p.seq_id)"""


_SHARD_MANIFEST_SELECT = """
    SELECT shard_id,
           COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT seq_id)::BIGINT AS n_seqs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           md5(string_agg(fp, '' ORDER BY fp)) AS digest
    FROM j GROUP BY shard_id
"""

_DOC_TOKENS_SQL = (
    f"SELECT doc_id, CAST(COALESCE(len({TOKS_SQL}), 0) AS BIGINT) AS n_tokens "
    f"FROM documents"
)


@register(
    "training_shard_manifest",
    # bench=True: r12 adds the first r11-family (shard/unigram) query to
    # the headline set so a plan regression in the two-level prefix-sum
    # delivery path is visible round over round (VERDICT r11 item #5 —
    # the r11 bloom entry is the precedent). Warm median at sf0.1 when
    # added and the 17-vs-18-query totals are recorded in NOTES_r12.md
    # so cross-round ratios stay comparable.
    bench=True,
    oracle=f"WITH {_pack_shard_ctes(_DOC_TOKENS_SQL)}\n"
    f"{_SHARD_MANIFEST_SELECT}",
    doc="Training-shard manifest (operators/shards.py): documents pack "
    f"into {_SEQ_BUDGET}-token sequences, sequences into "
    f"{_SHARD_BUDGET}-token output shards (both prefix-sum assignments "
    "are the distributed two-pass keyed_prefix_sum, never a global "
    "window), and each shard commits to its exact content via an "
    "engine-portable digest (md5 of sorted per-row md5 fingerprints — "
    "DuckDB twin: md5(string_agg(fp, '' ORDER BY fp))). This manifest "
    "is the contract write_training_shards diffs for idempotent "
    "incremental delivery: re-runs rewrite only shards whose digest "
    "changed (replay pytest in tests/test_shards.py). The K1 pendant "
    "for the LLM path — reference K1 stops at a parquet append "
    "(extractors/ingest_mysql_data.py:525-542).",
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", n_tokens_of("text").alias("n_tokens"))
    return _shard_manifest_frame(sized)


def _shard_manifest_frame(sized: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) -> the delivery manifest at the round's
    budgets — the Spark-side pendant of _pack_shard_ctes +
    _SHARD_MANIFEST_SELECT, shared by the raw-corpus and curated
    manifest queries so the composition exists once."""
    from ..operators.packing import pack_sequences
    from ..operators.shards import assign_shards_aligned, shard_manifest

    packed = pack_sequences(sized, token_budget=_SEQ_BUDGET)
    # aligned identity (shard_id = seq_id div 8): drops the second
    # prefix sum + the seq_id join — see assign_shards_aligned's proof
    sharded = assign_shards_aligned(packed, _SHARD_BUDGET, _SEQ_BUDGET)
    return shard_manifest(sharded).select(
        "shard_id", "n_docs", "n_seqs", "n_tokens", "digest"
    )


@register(
    "training_shard_delivery_contract",
    # Contract oracle: n_shards exact (the oracle recomputes the same
    # two-level prefix-sum assignment); the booleans are deterministic
    # engine-side guarantees of the writer (replay rewrites nothing,
    # growth rewrites only tail shards, tree always equals manifest).
    oracle=f"""
    WITH {_pack_shard_ctes(_DOC_TOKENS_SQL)}
    SELECT COUNT(DISTINCT shard_id)::BIGINT AS n_shards,
           TRUE AS replay_writes_nothing,
           TRUE AS growth_is_tail_only,
           TRUE AS tree_matches_manifest
    FROM sh
    """,
    doc="Training-shard WRITER contract (operators/shards.py::"
    "write_training_shards): deliver the corpus's shards to a scratch "
    "path, then (a) re-deliver identical input — the digest diff must "
    "rewrite NOTHING; (b) deliver a grown corpus (the half-corpus "
    "prefix first, then the full corpus) — only tail shards past the "
    "stable prefix may rewrite; (c) after every delivery the data tree "
    "read back equals the manifest exactly (shard ids and row counts). "
    "n_shards is oracle-exact via the same two-level prefix sum. The "
    "replay pytest in tests/test_shards.py pins the same invariants on "
    "synthetic frames; this query makes them driver-visible on the "
    "fixture corpus.",
)
def training_shard_delivery_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from ..operators.packing import pack_sequences
    from ..operators.shards import (
        assign_shards_aligned,
        read_shard_manifest,
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", n_tokens_of("text").alias("n_tokens")
    ).localCheckpoint(eager=False)  # one tokenize, many deliveries

    def sharded(frame):
        return assign_shards_aligned(
            pack_sequences(frame, token_budget=_SEQ_BUDGET),
            _SHARD_BUDGET,
            _SEQ_BUDGET,
        )

    half_max = sized.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    with tempfile.TemporaryDirectory() as td:
        full = f"{td}/full"
        first = write_training_shards(sharded(sized), full)
        replay = write_training_shards(sharded(sized), full)
        replay_ok = (
            bool(first["written"])
            and replay["written"] == []
            and replay["vacuumed"] == []
        )

        grown_path = f"{td}/grown"
        write_training_shards(
            sharded(sized.filter(F.col("doc_id") <= half_max)), grown_path
        )
        grown = write_training_shards(sharded(sized), grown_path)
        # the rewrite set must be a contiguous SUFFIX of the shard range;
        # an empty skipped set (half corpus inside one shard) is the
        # degenerate everything-is-tail case, still tail-only
        tail_ok = (
            not grown["written"]
            or not grown["skipped"]
            or max(grown["skipped"]) < min(grown["written"])
        )

        def _tree_eq(path: str) -> bool:
            manifest = {
                r["shard_id"]: r["n_docs"]
                for r in read_shard_manifest(spark, path).collect()
            }
            tree = {
                r["shard_id"]: r["n"]
                for r in spark.read.parquet(f"{path}/data")
                .groupBy("shard_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            return manifest == tree

        # BOTH trees: the replayed one and — the one that exercised a
        # partial (tail-only) dynamic-partition rewrite — the grown one
        tree_ok = _tree_eq(full) and _tree_eq(grown_path)
        n_shards = read_shard_manifest(spark, full).count()
    return driver_frame(
        spark,
        [(n_shards, replay_ok, tail_ok, tree_ok)],
        "n_shards long, replay_writes_nothing boolean, "
        "growth_is_tail_only boolean, tree_matches_manifest boolean",
    )


# ---------------------------------------------------------------------------
# Persisted IVF index (build / append / probe-without-retraining)
# ---------------------------------------------------------------------------


@register(
    "ivf_stored_index_contract",
    # Contract oracle (ann-style): n_queries/k exact; the booleans are
    # deterministic engine-side guarantees. stored==inline is EXACT
    # equality of the full (query, neighbor, cosine) result sets (same
    # deterministic trainer, same kernel, same rounding/tie-breaks — a
    # persisted index must never change answers). Appended-index
    # recall@10 vs brute force measured 0.895 / 0.825 at sf0.001 /
    # sf0.01 (centroids trained on the even half only); bound 0.75.
    oracle="""
    SELECT COUNT(*)::BIGINT AS n_queries, CAST(10 AS BIGINT) AS k,
           TRUE AS stored_matches_inline, TRUE AS appended_recall_ok
    FROM embeddings WHERE vec_id < 20
    """,
    doc="Persisted-IVF contract (operators/ivf.py::build_ivf_index / "
    "append_ivf_index / ivf_topk_stored): (a) probing the STORED index "
    "(train once, persist inverted lists partitioned by cell, probe "
    "with partition pruning and zero corpus-side Exchange) returns the "
    "EXACT result set of the inline ivf_topk at the same config — "
    "persistence is a pure plan optimization, never a semantics "
    "change; (b) an index built on the even half and APPENDED with the "
    "odd half (no retraining, frozen quantizer) keeps recall@10 >= "
    "0.75 vs the exact brute-force twin. Mirrors the stored dedup-index "
    "pattern (operators/dedup.py::build_dedup_index); partition-pruning "
    "plan pin in tests/test_ivf_maintenance.py.",
)
def ivf_stored_index_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators import similarity as sim
    from ..operators.ivf import (
        append_ivf_index,
        build_ivf_index,
        ivf_topk,
        ivf_topk_stored,
        train_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cfg = dict(n_centroids=16, iters=5, assign_n=2)
    # the full-corpus quantizer is trained ONCE and shared by the
    # inline probe and the stored build (r13, guide §2.4 "don't compute
    # things twice"): train_centroids is deterministic — pinned by
    # tests/test_ivf_maintenance.py::test_ivf_centroids_deterministic —
    # so each side retraining from the identical input yielded the
    # identical matrix; stored==inline still compares the two PROBE
    # paths end to end. The even-half index trains its own (different
    # input).
    cents = train_centroids(emb, cfg["n_centroids"], cfg["iters"])
    # all collects are bounded at n_queries x k = 200 rows
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .collect()
    }
    inline = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in ivf_topk(
            emb, queries, k=10, nprobe=6, centroids=cents, **cfg
        ).collect()
    }
    with tempfile.TemporaryDirectory() as td:
        build_ivf_index(emb, f"{td}/full", centroids=cents, **cfg)
        stored = {
            (r["query_id"], r["neighbor_id"], r["cosine"])
            for r in ivf_topk_stored(
                spark, queries, f"{td}/full", k=10, nprobe=6
            ).collect()
        }
        build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0),
                        f"{td}/grown", **cfg)
        append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), f"{td}/grown")
        appended = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk_stored(
                spark, queries, f"{td}/grown", k=10, nprobe=6
            )
            .select("query_id", "neighbor_id")
            .collect()
        }
    recall = len(appended & truth) / len(truth)
    return queries.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.lit(10).cast("long").alias("k"),
        F.lit(bool(stored == inline)).alias("stored_matches_inline"),
        F.lit(bool(recall >= 0.75)).alias("appended_recall_ok"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer trainer — Viterbi hard-EM
# ---------------------------------------------------------------------------

_UNI_LMAX = 4
_UNI_WMAX = 12
_UNI_ITERS = 2
_UNI_TOP = 50


def _uni_base(lmax: int, wmax: int) -> str:
    """Word-frequency table, substring lattice, char set, seed vocab."""
    return f"""
w AS MATERIALIZED (
  SELECT w AS word, COUNT(*)::BIGINT AS f
  FROM (SELECT unnest({TOKS_SQL}) AS w FROM documents)
  WHERE len(w) <= {wmax}
  GROUP BY w
),
sub AS MATERIALIZED (
  SELECT word, f, l, substr(word, s, l) AS piece,
         s - 1 AS j, s + l - 1 AS i
  FROM w, range(1, {wmax} + 1) ts(s), range(1, {lmax} + 1) tl(l)
  WHERE s + l <= len(word) + 1
),
chars AS (SELECT DISTINCT piece FROM sub WHERE l = 1),
vocab0 AS MATERIALIZED (
  SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt FROM sub GROUP BY piece
)"""


def _uni_dp_bt(t: int, prev: str, wmax: int) -> list[str]:
    """One Viterbi pass under ``prev``'s costs: cost table, edge lattice,
    DP unroll (u{t}_k chains), backtrace (bt{t}_m chains)."""
    parts = [f"""
tot{t} AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM {prev}),
cost{t} AS (SELECT piece,
                   CAST(round(1e6 * ln(total / cnt)) AS BIGINT) AS cost
            FROM {prev} CROSS JOIN tot{t}),
e{t} AS MATERIALIZED (
  SELECT s.word, s.j, s.i, s.piece, c.cost
  FROM sub s JOIN cost{t} c ON c.piece = s.piece),
u{t}_0 AS MATERIALIZED (
  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS best FROM w)"""]
    for k in range(1, wmax + 1):
        parts.append(f"""
d{t}_{k} AS MATERIALIZED (
  SELECT e.word, {k} AS pos, MIN(d.best + e.cost) AS best
  FROM e{t} e JOIN u{t}_{k - 1} d ON d.word = e.word AND d.pos = e.j
  WHERE e.i = {k} GROUP BY e.word),
u{t}_{k} AS MATERIALIZED (
  SELECT * FROM u{t}_{k - 1} UNION ALL SELECT * FROM d{t}_{k})""")
    parts.append(f"""
bt{t}_0 AS MATERIALIZED (
  SELECT word, len(word) AS pos, CAST(NULL AS VARCHAR) AS piece,
         CAST(0 AS BIGINT) AS fw
  FROM w)""")
    for m in range(1, wmax + 1):
        parts.append(f"""
bt{t}_{m} AS MATERIALIZED (
  SELECT word, j AS pos, piece, fw FROM (
    SELECT b.word, e.j, e.piece, ww.f AS fw,
           row_number() OVER (PARTITION BY b.word ORDER BY e.j ASC) AS rn
    FROM bt{t}_{m - 1} b
    JOIN e{t} e ON e.word = b.word AND e.i = b.pos
    JOIN u{t}_{wmax} d ON d.word = b.word AND d.pos = e.j
    JOIN u{t}_{wmax} df ON df.word = b.word AND df.pos = b.pos
    JOIN w ww ON ww.word = b.word
    WHERE b.pos > 0 AND d.best + e.cost = df.best
  ) WHERE rn = 1
)""")
    return parts


def _uni_bt_union(t: int, wmax: int, cols: str) -> str:
    return "\n    UNION ALL ".join(
        f"SELECT {cols} FROM bt{t}_{m} WHERE piece IS NOT NULL"
        for m in range(1, wmax + 1)
    )


def _uni_recount(t: int, wmax: int) -> str:
    """M-step: piece counts from the backtraced paths + the char floor."""
    union = _uni_bt_union(t, wmax, "word, piece, fw")
    return f"""
used{t} AS MATERIALIZED (
  SELECT piece, CAST(SUM(fw) AS BIGINT) AS cnt
  FROM ({union}) GROUP BY piece),
vocab{t} AS MATERIALIZED (
  SELECT piece, cnt FROM used{t}
  UNION ALL
  SELECT c.piece, CAST(1 AS BIGINT) FROM chars c
  WHERE c.piece NOT IN (SELECT piece FROM used{t})
)"""


def _uni_train_chain(lmax: int, wmax: int, iters: int):
    """The full training CTE chain (base + every EM iteration's DP,
    backtrace and re-count): (parts, final_vocab_name) — shared by the
    trainer and encoder oracles so the chain exists once."""
    parts = [_uni_base(lmax, wmax)]
    prev = "vocab0"
    for t in range(1, iters + 1):
        parts.extend(_uni_dp_bt(t, prev, wmax))
        parts.append(_uni_recount(t, wmax))
        prev = f"vocab{t}"
    return parts, prev


def _unigram_oracle_sql() -> str:
    """DuckDB twin of operators/unigram.py::train_unigram, generated from
    the SAME constants: both EM iterations and each iteration's Viterbi
    DP (positions 1..wmax) and backtrace (<= wmax steps) unrolled as
    MATERIALIZED CTEs. MATERIALIZED is load-bearing: u_k references
    u_{k-1} twice (directly and through d_k), so naive inlining expands
    the base scan exponentially."""
    lmax, wmax, iters, top = _UNI_LMAX, _UNI_WMAX, _UNI_ITERS, _UNI_TOP
    parts, prev = _uni_train_chain(lmax, wmax, iters)
    parts.append(f"""
totf AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM {prev}),
outp AS (SELECT piece, cnt AS n_uses,
                CAST(round(1e6 * ln(total / cnt)) AS BIGINT)
                    AS cost_micro_nats
         FROM {prev} CROSS JOIN totf)""")
    return (
        f"WITH {','.join(parts)}\n"
        f"SELECT piece, n_uses, cost_micro_nats FROM outp "
        f"ORDER BY n_uses DESC, piece ASC LIMIT {top}"
    )


def _unigram_encode_oracle_sql() -> str:
    """DuckDB twin of operators/unigram.py::unigram_encode: the full
    training chain, then ONE more Viterbi pass (t = iters+1) under the
    final vocabulary's costs, emitting each word's segmentation
    (backtraced pieces ordered by start position)."""
    lmax, wmax, iters = _UNI_LMAX, _UNI_WMAX, _UNI_ITERS
    parts, prev = _uni_train_chain(lmax, wmax, iters)
    enc = iters + 1
    parts.extend(_uni_dp_bt(enc, prev, wmax))
    union = _uni_bt_union(enc, wmax, "word, pos, piece")
    return (
        f"WITH {','.join(parts)}\n"
        f"SELECT word, COUNT(*)::BIGINT AS n_pieces,\n"
        f"       string_agg(piece, ' ' ORDER BY pos) AS encoded\n"
        f"FROM ({union}) GROUP BY word"
    )


@register(
    "unigram_train_top50",
    oracle=_unigram_oracle_sql(),
    doc="Unigram-LM (SentencePiece-style) tokenizer trainer, Viterbi "
    "hard-EM (operators/unigram.py::train_unigram): seed vocab = all "
    f"substrings (len <= {_UNI_LMAX}) of the corpus's distinct words; "
    f"{_UNI_ITERS} EM iterations of minimum-cost segmentation "
    "(integer micro-nat costs — the DP is exact BIGINT arithmetic; the "
    "one ln() per piece is rounded at 0.5-micro-nat absolute precision, "
    "~7 orders above libm ulp drift) + re-count + prune, single chars "
    "floored at 1 for coverage. Corpus pays ONE distinct-word shuffle; "
    "everything else runs on vocab-sized frames (Arrow-batch Viterbi "
    "over distinct WORDS with the cost dict in closure). Oracle unrolls "
    "both iterations' DP+backtrace as MATERIALIZED CTEs; a pure-Python "
    "twin pins the math in tests/test_unigram.py. Completes the "
    "tokenizer-family triad beside BPE and MaxMatch.",
)
def unigram_train_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.unigram import train_unigram

    docs = load_table(spark, sf_dir, "documents")
    return train_unigram(
        docs,
        lmax=_UNI_LMAX,
        wmax=_UNI_WMAX,
        iters=_UNI_ITERS,
        top=_UNI_TOP,
    )


@register(
    "unigram_encode_words",
    oracle=_unigram_encode_oracle_sql(),
    doc="Unigram-LM inference (operators/unigram.py::unigram_encode), "
    "pairing the trainer the way bpe_encode pairs bpe_train: one more "
    "Viterbi pass under the FINAL trained vocabulary's integer costs "
    "segments every distinct training-eligible word into its "
    "minimum-cost piece sequence — (word, n_pieces, encoded). Same "
    "scale shape as training (distinct-word frame, cost dict in the "
    "Arrow UDF closure); document-level application is a broadcast "
    "word->encoded map join. Oracle = the training chain + one more "
    "unrolled DP/backtrace block, segmentation re-assembled with "
    "string_agg ORDER BY start position.",
)
def unigram_encode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.unigram import unigram_encode

    docs = load_table(spark, sf_dir, "documents")
    return unigram_encode(
        docs, lmax=_UNI_LMAX, wmax=_UNI_WMAX, iters=_UNI_ITERS
    )


@register(
    "ivf_index_health_report",
    # Contract oracle: n_index_rows is exact (assign_n x corpus rows —
    # multi-assignment coverage is a hard invariant of _write_cells);
    # the booleans are deterministic engine-side guarantees. Measured
    # on the fixtures at (16 cells, iters 5, assign_n 2): 16/16 cells
    # used, cell skew max/mean = 1.17 / 1.20 at sf0.001 / sf0.01 —
    # bounds 2..16 cells and skew <= 2.0 leave wide margin.
    oracle="""
    SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_index_rows,
           TRUE AS coverage_exact, TRUE AS cells_ok, TRUE AS balance_ok
    FROM embeddings
    """,
    doc="Stored-IVF index health report (the ops side of the persisted "
    "index): build the index, read back its inverted lists and report "
    "(a) coverage — index rows == assign_n x corpus vectors, the "
    "multi-assignment invariant; (b) cell usage in [2, k] — a "
    "degenerate quantizer collapses cells; (c) balance — max/mean cell "
    "size <= 2.0, the probe-cost-uniformity signal that triggers a "
    "rebuild when the frozen quantizer drifts from the data "
    "(kmeans_profile's coherence contract is the companion drift "
    "signal). One groupBy over the cells table (metadata-scale: k "
    "rows out).",
)
def ivf_index_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.ivf import build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    k, assign_n = 16, 2
    with tempfile.TemporaryDirectory() as td:
        build_ivf_index(emb, f"{td}/ix", n_centroids=k, iters=5,
                        assign_n=assign_n)
        sizes = [
            r["n"]
            for r in spark.read.parquet(f"{td}/ix/cells")
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: k rows
        ]
    n_rows = sum(sizes)
    skew = max(sizes) / (n_rows / len(sizes))
    return emb.agg(
        (F.count(F.lit(1)) * assign_n).cast("long").alias("n_index_rows"),
        F.lit(bool(n_rows == emb.count() * assign_n)).alias(
            "coverage_exact"
        ),
        F.lit(bool(2 <= len(sizes) <= k)).alias("cells_ok"),
        F.lit(bool(skew <= 2.0)).alias("balance_ok"),
    )


@register(
    "shard_source_mix_manifest",
    oracle=f"""
    WITH {_pack_shard_ctes(_DOC_TOKENS_SQL)},
    d AS (SELECT sh.shard_id, p.doc_id, p.n_tokens
          FROM p JOIN sh ON sh.seq_id = p.seq_id),
    tot AS (SELECT shard_id, CAST(SUM(n_tokens) AS DOUBLE) AS shard_tokens
            FROM d GROUP BY shard_id)
    SELECT d.shard_id, s.source,
           COUNT(*)::BIGINT AS n_docs,
           CAST(SUM(d.n_tokens) AS BIGINT) AS n_tokens,
           round(SUM(d.n_tokens) / tot.shard_tokens, 6) AS token_share
    FROM d JOIN documents s USING (doc_id)
    JOIN tot USING (shard_id)
    GROUP BY d.shard_id, s.source, tot.shard_tokens
    """,
    doc="Mix-auditable delivery manifest: per (shard, source) doc/token "
    "counts and the source's token share of its shard — the table that "
    "makes the trainer's DATA MIX auditable from delivery metadata "
    "alone (did shard 7 really carry the 30% web / 70% curated split "
    "the recipe promised?), pairing the content digest the base "
    "manifest already commits to. Same two-level prefix-sum assignment; "
    "one provenance join on doc_id + a shard-keyed rollup; the "
    "shard-total frame is manifest-scale and broadcasts. token_share "
    "is an integer-ratio division rounded at 6 dp (IEEE-portable).",
)
def shard_source_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences
    from ..operators.shards import assign_shards_aligned

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", n_tokens_of("text").alias("n_tokens"))
    sharded = assign_shards_aligned(
        pack_sequences(sized, token_budget=_SEQ_BUDGET),
        _SHARD_BUDGET,
        _SEQ_BUDGET,
    )
    d = sharded.join(docs.select("doc_id", "source"), "doc_id")
    tot = d.groupBy("shard_id").agg(
        F.sum("n_tokens").cast("double").alias("shard_tokens")
    )
    return (
        d.groupBy("shard_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .join(F.broadcast(tot), "shard_id")
        .select(
            "shard_id",
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("shard_tokens"), 6).alias(
                "token_share"
            ),
        )
    )


def _unigram_fertility_oracle_sql() -> str:
    """Encode chain + per-language token-occurrence join: fertility =
    pieces per word occurrence under the trained unigram model."""
    lmax, wmax, iters = _UNI_LMAX, _UNI_WMAX, _UNI_ITERS
    parts, prev = _uni_train_chain(lmax, wmax, iters)
    enc = iters + 1
    parts.extend(_uni_dp_bt(enc, prev, wmax))
    union = _uni_bt_union(enc, wmax, "word, piece")
    parts.append(f"""
wp AS (SELECT word, COUNT(*)::BIGINT AS n_pieces
       FROM ({union}) GROUP BY word),
occ AS (SELECT lang, unnest({TOKS_SQL}) AS word FROM documents)""")
    return (
        f"WITH {','.join(parts)}\n"
        f"SELECT lang, COUNT(*)::BIGINT AS n_words,\n"
        f"       CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,\n"
        f"       round(SUM(n_pieces) / COUNT(*), 6) AS fertility\n"
        f"FROM occ JOIN wp USING (word)\n"
        f"WHERE len(word) <= {wmax}\n"
        f"GROUP BY lang"
    )


@register(
    "unigram_fertility_by_lang",
    oracle=_unigram_fertility_oracle_sql(),
    doc="Unigram-tokenizer fertility audit (pieces per word OCCURRENCE "
    "by language under the trained unigram model) — the bpe_fertility "
    "pendant for the third tokenizer family: the per-language "
    "tokenizer-quality tax a mixed-corpus pipeline reads before "
    "committing to a vocab. Composition of unigram_encode (distinct "
    "words, Arrow Viterbi under the final costs) broadcast-joined to "
    "the per-language token occurrences; one lang-keyed groupBy with "
    "exact integer sums; fertility = round(pieces/words, 6) (integer "
    "division to double is IEEE-portable).",
)
def unigram_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.unigram import unigram_encode

    docs = load_table(spark, sf_dir, "documents")
    enc = unigram_encode(
        docs, lmax=_UNI_LMAX, wmax=_UNI_WMAX, iters=_UNI_ITERS
    ).select("word", "n_pieces")
    occ = docs.select(
        "lang", F.explode(tokens("text")).alias("word")
    ).filter(F.length("word") <= _UNI_WMAX)
    return occ.join(F.broadcast(enc), "word").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_pieces").cast("long").alias("n_pieces"),
        F.round(F.sum("n_pieces") / F.count(F.lit(1)), 6).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# End-to-end capstone: curated corpus -> packed sequences -> shard manifest
# ---------------------------------------------------------------------------


def _curated_shard_oracle() -> str:
    """curate_v2's proven CTE chain re-rooted as the pack/shard chain's
    token source — the whole 'build the training set' path in one
    oracle, with each stage's SQL living in its home module."""
    from .round3 import _curation_v2_ctes

    # `text` needs no qualifier: of the two survivor relations only s3
    # carries it (ql is doc_id+quality_prob), so the bare column binds
    # unambiguously — no string surgery on TOKS_SQL
    curated_tokens = (
        f"SELECT s3.doc_id, CAST(COALESCE(len({TOKS_SQL}), 0) AS BIGINT) AS n_tokens "
        f"FROM s3 JOIN ql USING (doc_id)"
    )
    return (
        f"WITH {_curation_v2_ctes()},"
        f"{_pack_shard_ctes(curated_tokens)}\n"
        f"{_SHARD_MANIFEST_SELECT}"
    )


@register(
    "curated_corpus_shard_manifest",
    oracle=_curated_shard_oracle(),
    doc="END-TO-END training-data build (the pipeline a trainer actually "
    "consumes): curate_v2's four gates (containment rejection -> CDC "
    "boilerplate rejection -> bigram-LM p10 fluency gate -> logistic "
    "quality gate) feed the SURVIVORS through 512-token sequence "
    "packing and 4096-token shard assignment into the delivery "
    "manifest — (shard_id, n_docs, n_seqs, n_tokens, digest), ready "
    "for write_training_shards. One composed DataFrame pipeline; the "
    "oracle chains the proven curate_v2 CTEs into the proven "
    "pack/shard CTEs, so every stage's SQL lives in its home module "
    "and the capstone adds no new semantics — only the composition.",
)
def curated_corpus_shard_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.curation import curate_v2

    docs = load_table(spark, sf_dir, "documents")
    kept = curate_v2(docs).select(
        "doc_id", n_tokens_of("text").alias("n_tokens")
    )
    return _shard_manifest_frame(kept)
