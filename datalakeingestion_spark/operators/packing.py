"""Sequence packing — assign documents to fixed token-budget training
sequences via a DISTRIBUTED PREFIX SUM.

LLM pre-training consumes documents concatenated into fixed-length
sequences. The deterministic streaming pack (documents in stable id
order; a document starts a new sequence when the running token count
crosses the budget) is a global running sum — the textbook "looks
serial" operation. A naive window ``SUM() OVER (ORDER BY id)`` plans as
a SINGLE-partition window: one task pulls the whole table (at 100 TB,
one executor and one shuffle of everything).

The scale shape is the classic two-pass parallel prefix sum
(``keyed_prefix_sum``, JVM end-to-end — the earlier Arrow/mapInPandas
form measured 2.3× slower at 20M rows, tools/scale_probe_r6.py @ c2bc8cd):

1. range-partition by (key, order): ``spark_partition_id()`` becomes a
   deterministic bucket id respecting the global order — ONE shuffle;
2. per-(bucket, key) subtotals — tiny, collected to the driver and
   turned into exclusive offsets;
3. a window over PARTITION BY (bucket, key) — fine-grained, parallel,
   whole-stage-codegen — plus a broadcast join adding the offsets.

Output values are independent of where the range boundaries land (the
global order is preserved regardless), so the result is deterministic
even though range partitioning samples its boundaries.

Reference pendant: none — greenfield training-pipeline operator
(SURVEY.md §2 beyond-reference set).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..utils import bounded_collect, driver_frame


def pack_sequences(
    docs: DataFrame,
    token_budget: int = 512,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    num_partitions: int | None = None,
    order_cols: list[str] | None = None,
    include_position: bool = False,
) -> DataFrame:
    """Assign each document a ``seq_id`` = floor(exclusive-prefix-sum of
    ``tokens_col`` in ``order_cols`` order / ``token_budget``).

    Document boundaries are preserved: a document whose tail crosses the
    budget stays whole in its sequence (pack-with-overflow; split/truncate
    is a downstream choice). A NULL ``tokens_col`` counts as 0 — the doc
    stays in the corpus with a valid ``seq_id`` (dropping it here would be
    silent data loss: a NULL token count upstream usually means NULL text,
    which is in-domain — see the bloom-door NULL pin). ``docs`` must carry
    ``id_col`` (unique), ``tokens_col`` (int or NULL), and ``order_cols``
    (defaults to
    ``[id_col]``; the composite must be a total order for a deterministic
    result). ``include_position=True`` adds the exclusive prefix sum
    itself as a ``position`` column — with ``tokens_col`` ≡ 1 that is a
    distributed 0-based row_number (see ``global_positions``).

    The prefix sum itself is ``keyed_prefix_sum`` with a constant key —
    one shared two-pass JVM implementation (range-shuffle bucketing,
    per-bucket window, broadcast offsets) instead of a parallel Arrow
    code path (the Arrow form measured 2.3× slower at 20M rows,
    tools/scale_probe_r6.py @ c2bc8cd).
    """
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    order_cols = list(order_cols or [id_col])
    # tokens_col may itself be an order column (length curriculum):
    # it is projected once below, never duplicated into keep
    keep = [id_col] + [
        c for c in order_cols if c not in (id_col, tokens_col)
    ]
    if "_k" in (*keep, tokens_col) or "_cum" in (*keep, tokens_col):
        # "_k" would be silently clobbered by the constant key below
        # (a tokens_col named "_k" would turn every weight into 1);
        # "_cum" would clash inside keyed_prefix_sum anyway — fail the
        # same way, up front
        raise ValueError("input already has reserved column _k/_cum")
    sized = docs.select(
        *[F.col(c) for c in keep],
        # NULL -> 0, not dropped: a NULL count would yield a NULL prefix
        # sum and seq_id, and the doc would vanish at the next equi-join
        F.coalesce(F.col(tokens_col).cast("long"), F.lit(0).cast("long")).alias(
            tokens_col
        ),
    ).withColumn("_k", F.lit(1))
    cum = keyed_prefix_sum(
        sized,
        ["_k"],
        order_cols,
        tokens_col,
        out_col="_cum",
        num_partitions=num_partitions,
    )
    before = F.col("_cum") - F.col(tokens_col)  # exclusive prefix
    out_cols = [
        F.col(id_col),
        F.col(tokens_col),
        F.expr(f"(_cum - {tokens_col}) div {token_budget}").alias("seq_id"),
    ]
    if include_position:
        out_cols.append(before.alias("position"))
    return cum.select(*out_cols)


def global_positions(
    docs: DataFrame,
    order_cols: list[str],
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed 0-based row_number over a global order — the operator
    Spark's window form can't scale (``row_number() OVER (ORDER BY ...)``
    with no PARTITION BY collapses to a single task). This is the
    prefix-sum machinery with a constant weight of 1: one range shuffle,
    a per-bucket JVM window, and #buckets-row broadcast offsets (see
    ``keyed_prefix_sum``). The canonical use is the deterministic
    training-order shuffle: order by a seeded portable hash and every
    engine/run agrees on the permutation.

    Returns (id_col, global_pos).
    """
    ones = docs.select(
        id_col, *[c for c in order_cols if c != id_col]
    ).withColumn("_one", F.lit(1).cast("long"))
    packed = pack_sequences(
        ones,
        token_budget=1 << 40,  # seq_id unused; one giant "sequence"
        id_col=id_col,
        tokens_col="_one",
        num_partitions=num_partitions,
        order_cols=order_cols,
        include_position=True,
    )
    return packed.select(id_col, F.col("position").alias("global_pos"))


def tokenize_to_ids(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tokenizer-prep encoding: build the corpus vocabulary (ids dense-
    ranked by descending frequency, ties by token — the standard
    frequency-sorted id assignment) and encode every document as its
    token-id sequence. The step between raw text and
    `assemble_sequences` / `pack_sequences`, which consume token counts
    today and id arrays in a real training pipeline.

    Scale shape: one token shuffle builds the vocabulary; the ranking
    window runs over the VOCAB frame (Zipf: orders of magnitude smaller
    than the corpus — and cappable to top-K with an OOV id, same
    argument as unigram_logprob's vocabulary broadcast). Encoding is
    explode → broadcast-join vocab → one regroup per doc with an
    order-struct sort (no positional UDF).

    Returns (doc_id, n_tokens, token_ids array<int>); empty docs yield
    no row.
    """
    from pyspark.sql import Window

    from ..functions.text import tokens

    pos = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    vocab = (
        pos.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "tok",
            F.dense_rank()
            .over(Window.orderBy(F.desc("freq"), "tok"))
            .cast("int")
            .alias("token_id"),
        )
    )
    return (
        pos.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "token_id"))),
                lambda s: s.token_id,
            ).alias("token_ids"),
        )
    )


#: Symbol separator inside the BPE word encoding — U+001F (unit
#: separator), chosen because whitespace tokenization can never emit it
#: inside a word of ordinary text; words containing it are excluded
#: defensively (identically in the SQL oracle) rather than corrupted.
BPE_SEP = "\x1f"


def bpe_train(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
) -> DataFrame:
    """Iterative byte-pair-encoding merge TRAINER — the actual BPE loop
    (count adjacent symbol pairs, merge the most frequent, repeat ``k``
    times), the tokenizer-prep step between ``bpe_pair_stats`` (which
    computes only the FIRST merge's statistics) and a trained
    vocabulary. Classic word-frequency BPE (Sennrich et al. 2016): the
    corpus is reduced ONCE to its word-frequency table, and every merge
    iteration runs over that vocab-sized table — corpus-sized work never
    repeats.

    Representation: each word is its symbol sequence joined by
    :data:`BPE_SEP`, so applying merge (a, b) is ONE codegen
    ``replace(syms, a‖SEP‖b, a‖b)`` — left-to-right non-overlapping,
    exactly BPE's greedy application ("aaa" + (a,a) → (aa)(a)), and
    byte-identical between Spark and DuckDB (the oracle unrolls the
    same loop as CTEs). Pair counts weight by word frequency; the
    argmax merge breaks ties by (lhs, rhs) ascending for determinism.

    Scale shape (the HITS pattern for bounded iteration): per merge,
    one vocab-sized pair explode + groupBy with map-side partials, a
    TakeOrdered(1) argmax collected as a control-plane scalar, one JVM
    ``replace`` projection, then an EAGER localCheckpoint so the next
    iteration's plan starts from materialized vocab rows instead of a
    k-deep replace/aggregate lineage. Stops early when no pair remains.

    Returns (merge_rank int, lhs, rhs, merged, pair_count long) — the
    merge table, ``<= k`` rows, already ordered by merge_rank.
    """
    from ..functions.text import tokens

    if k < 1:
        raise ValueError("k must be >= 1")
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .filter(~F.col("w").contains(BPE_SEP))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.concat_ws(BPE_SEP, F.split("w", "")).alias("syms"), "cnt"
        )
        # vocab-sized frame; coalesce before the checkpoint so a bare
        # 200-partition session doesn't materialize (and re-scan, k
        # times) near-empty blocks (r13, the graph-sweep pattern)
        .coalesce(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    merges: list[tuple] = []
    for rank in range(1, k + 1):
        s = F.split("syms", BPE_SEP)
        pairs = words.select(
            F.explode(
                F.zip_with(
                    F.slice(s, 1, F.size(s) - 1),
                    F.slice(s, 2, F.size(s) - 1),
                    lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
                )
            ).alias("p"),
            "cnt",
        ).filter(F.col("p.lhs").isNotNull() & F.col("p.rhs").isNotNull())
        best = (
            pairs.groupBy("p.lhs", "p.rhs")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best:
            break
        lhs, rhs, pc = best[0]["lhs"], best[0]["rhs"], int(best[0]["pc"])
        merges.append((rank, lhs, rhs, lhs + rhs, pc))
        if rank < k:
            words = words.select(
                F.replace(
                    F.col("syms"), F.lit(lhs + BPE_SEP + rhs), F.lit(lhs + rhs)
                ).alias("syms"),
                "cnt",
            ).localCheckpoint(eager=True)
    return driver_frame(
        spark,
        merges,
        "merge_rank int, lhs string, rhs string, merged string, "
        "pair_count long",
    )


#: Word separator in the whole-document BPE encoding (U+001E, record
#: separator): words joined by it can be merge-replaced in one pass —
#: a merge pattern ``a␟b`` can never straddle a ``␞`` word boundary.
BPE_WORD_SEP = "\x1e"


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained merge table (:func:`bpe_train` output rows, in
    merge_rank order) to documents — the ENCODE half of tokenizer prep.

    The whole document is rewritten as one string: words joined by
    :data:`BPE_WORD_SEP`, each word's symbols joined by
    :data:`BPE_SEP`, then every merge is one codegen ``replace`` folded
    left-to-right in rank order (word boundaries are safe by
    construction — a merge pattern can never straddle the word
    separator). ONE projection over the corpus, zero shuffles, lineage
    depth = number of merges (driver-side fold of scalar patterns, the
    merge table is control-plane sized).

    Returns (doc_id, n_pieces long, encoded string) — ``encoded`` is
    the piece sequence space-joined (pieces contain no spaces: words
    are whitespace tokens). Empty docs encode to 0 pieces / ''.
    """
    _clean, syms, n_pieces = _encode_exprs(text_col, merges)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_pieces.cast("long").alias("n_pieces"),
        F.translate(syms, BPE_SEP + BPE_WORD_SEP, "  ").alias("encoded"),
    )


def _encode_exprs(text_col: str, merges: list[tuple]):
    """(clean word array, folded symbol string, piece count) — the
    shared encode expressions behind :func:`bpe_encode` and
    :func:`bpe_fertility`."""
    from ..functions.text import tokens

    clean = F.filter(
        tokens(text_col),
        lambda w: ~w.contains(BPE_SEP) & ~w.contains(BPE_WORD_SEP),
    )  # same defensive exclusion as bpe_train's word table
    syms = F.array_join(
        F.transform(clean, lambda w: F.array_join(F.split(w, ""), BPE_SEP)),
        BPE_WORD_SEP,
    )
    for row in merges:
        lhs, rhs = row[1], row[2]
        syms = F.replace(syms, F.lit(lhs + BPE_SEP + rhs), F.lit(lhs + rhs))
    n_pieces = F.when(syms == "", F.lit(0)).otherwise(
        F.size(F.split(syms, f"[{BPE_SEP}{BPE_WORD_SEP}]"))
    )
    return clean, syms, n_pieces


def bpe_fertility(
    docs: DataFrame,
    merges: list[tuple],
    by_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer FERTILITY audit: pieces per word under a trained merge
    table, grouped by ``by_col`` — the standard tokenizer-quality
    metric per language/source (a tokenizer trained on English text
    fragments other languages into many more pieces per word; fertility
    quantifies that tax before a corpus is committed to it).

    One zero-shuffle projection computes each doc's word count and
    encoded piece count (the :func:`bpe_encode` expressions), then one
    tiny groupBy on ``by_col`` sums exact integers — the ratio of two
    exact sums is partitioning-independent. Returns
    (by_col, n_docs, n_words, n_pieces, fertility) with fertility NULL
    for a group with zero words (no evidence, not 0.0).
    """
    clean, _syms, n_pieces = _encode_exprs(text_col, merges)
    per = docs.select(
        F.col(by_col),
        F.size(clean).cast("long").alias("_nw"),
        n_pieces.cast("long").alias("_np"),
    )
    agg = per.groupBy(by_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nw").alias("n_words"),
        F.sum("_np").alias("n_pieces"),
    )
    return agg.withColumn(
        "fertility",
        F.when(F.col("n_words") == 0, F.lit(None).cast("double")).otherwise(
            F.round(F.col("n_pieces") / F.col("n_words"), 6)
        ),
    )


#: Upper bound on buckets × keys subtotal rows collected to the driver.
#: Past this, the key cardinality is data-sized and the two-pass form is
#: the wrong tool — fail loudly instead of OOMing the driver.
MAX_SUBTOTAL_ROWS = 1_000_000

#: Target bytes per range bucket for the prefix-sum bucketing — the
#: guide §2.2 "100 MB – 1 GB reduce partitions" band.
_RANGE_BUCKET_BYTES = 128 * 1024 * 1024


def _derived_range_partitions(df: DataFrame) -> int:
    """Input-size-derived range-bucket count (r13, guide §2.2): under a
    bare driver-style session the old default — the raw
    ``spark.sql.shuffle.partitions`` conf, 200 — materialized 200
    near-empty checkpointed buckets and a 200×keys offsets collect for
    kilobyte inputs. Derive from the optimizer's size estimate instead:
    ~128 MB per bucket, floored at ``defaultParallelism`` (all cores
    stay busy), capped at the session's shuffle-partition conf (the
    operator's explicit parallelism knob at cluster scale; pass
    ``num_partitions`` to override). Results are identical for ANY
    bucket count — the offsets are computed per actual bucket."""
    spark = df.sparkSession
    conf_n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    dp = spark.sparkContext.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return conf_n
    derived = max(dp, -(-size // _RANGE_BUCKET_BYTES))
    return max(1, min(conf_n, derived))


def keyed_prefix_sum(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    weight_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive prefix sum of ``weight_col`` within each ``key_cols``
    group, ordered by ``order_cols`` — the scale-safe replacement for
    ``SUM() OVER (PARTITION BY key ORDER BY ...)`` when a single key
    group is data-sized (Spark's window form pulls the whole group into
    one task: one executor sorts — and must hold — that key's entire
    slice of a 100 TB table).

    Same two-pass idea as ``pack_sequences``, but JVM end-to-end (no
    Arrow/Python pass — measured 2.3× slower than this form at 20M rows,
    tools/scale_probe_r6.py @ c2bc8cd):

    1. range-shuffle on (key, order): ``spark_partition_id()`` becomes a
       deterministic BUCKET id that respects the global order, so each
       key spans a contiguous bucket range and every (bucket, key) cell
       is at most a partition's worth of rows;
    2. per-(bucket, key) subtotals — ≤ #buckets + #keys rows, collected
       and turned into exclusive per-cell offsets (driver-safe whenever
       the key count is metadata-sized);
    3. a window over PARTITION BY (bucket, key) — fine-grained and
       parallel, never a whole key in one task — plus a broadcast join
       adding the cell's offset. All whole-stage-codegen.

    (key_cols + order_cols) must be a total order (unique rows) for a
    deterministic result; ``weight_col`` must be integral (cast to
    long). The driver-side offset pass holds at most buckets × keys
    subtotal rows and raises past ``MAX_SUBTOTAL_ROWS`` (a data-sized
    key cardinality wants the plain keyed window —
    ``SUM() OVER (PARTITION BY key ORDER BY ...)`` — whose per-key task
    is then small by the same cardinality argument). Returns ``df``'s
    columns + ``out_col`` (long).
    """
    from pyspark.sql import Window

    reserved = {"_pid", "_off", "_local", out_col}
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"input already has reserved column(s) {sorted(clash)}"
        )
    spark = df.sparkSession
    n = int(num_partitions or 0) or _derived_range_partitions(df)
    all_cols = list(df.columns)
    rng = [F.col(c) for c in (*key_cols, *order_cols)]
    # EAGER localCheckpoint, not persist: the collected offsets are keyed
    # by spark_partition_id, and repartitionByRange SAMPLES its boundaries
    # — Spark does not guarantee the sample (hence the _pid assignment) is
    # identical across re-executions. A persist can be evicted or cleared
    # (spark.catalog.clearCache) between the offset collect and a later
    # evaluation, and the recompute's shifted _pids would silently
    # mis-apply the offsets. Checkpointing truncates the lineage: the
    # bucketing can never re-run — block loss is a loud failure, never a
    # wrong answer — and the blocks are cleaned when the frame is GC'd
    # instead of living for the session.
    part = df.repartitionByRange(n, *rng).withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)
    # pass 1: per-(bucket, key) subtotals -> exclusive offsets. Past
    # MAX_SUBTOTAL_ROWS the key count is data-sized and this is the wrong
    # operator — raise, don't OOM.
    sub = bounded_collect(
        part.groupBy("_pid", *key_cols).agg(
            F.sum(F.col(weight_col).cast("long")).alias("t")
        ),
        MAX_SUBTOTAL_ROWS,
    )
    if sub is None:
        raise ValueError(
            f"keyed_prefix_sum: >{MAX_SUBTOTAL_ROWS} bucket×key subtotal "
            "rows — key cardinality is data-sized; use a plain keyed "
            "window (SUM() OVER (PARTITION BY key ORDER BY ...)) instead"
        )
    per_key: dict[tuple, list[tuple[int, int]]] = {}
    for r in sub.to_pylist():
        k = tuple(r[c] for c in key_cols)
        per_key.setdefault(k, []).append((r["_pid"], int(r["t"] or 0)))
    off_rows = []
    for key, lst in per_key.items():
        running = 0
        for pid, t in sorted(lst):
            if running:
                off_rows.append((pid, *key, running))
            running += t
    off_schema = T.StructType(
        [T.StructField("_pid", T.IntegerType())]
        + [df.schema[c] for c in key_cols]
        + [T.StructField("_off", T.LongType())]
    )
    offsets = driver_frame(spark, off_rows, off_schema)

    # pass 2: fine-grained window + broadcast offset join, JVM-side
    w = (
        Window.partitionBy("_pid", *key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn(
        "_local", F.sum(F.col(weight_col).cast("long")).over(w)
    )
    # NULL-SAFE key equality: a NULL key is a legal group (groupBy and
    # the window both treat NULLs as one group), but a plain equi-join
    # would never match its offsets row (NULL != NULL), silently
    # restarting the sum at every bucket boundary.
    l, o = local.alias("l"), offsets.alias("o")
    cond = F.col("l._pid") == F.col("o._pid")
    for c in key_cols:
        cond = cond & F.col(f"l.{c}").eqNullSafe(F.col(f"o.{c}"))
    return (
        l.join(F.broadcast(o), cond, "left")
        .withColumn(
            out_col,
            F.col("l._local") + F.coalesce(F.col("o._off"), F.lit(0)),
        )
        .select(*[F.col(f"l.{c}") for c in all_cols], out_col)
    )


def maxmatch_encode_words(
    docs: DataFrame,
    vocab: Sequence[str],
    text_col: str = "text",
) -> DataFrame:
    """Greedy longest-match-first (MaxMatch) subword tokenization — the
    WordPiece inference loop — over the corpus' DISTINCT words.

    At each position the LONGEST vocab piece matching there is taken;
    a word with any uncoverable position becomes ``[UNK]`` whole (the
    WordPiece rule). The trick that keeps this a zero-UDF single
    projection: a regex alternation of the vocab sorted by (length
    desc, lex) — Java regex (Spark) and RE2 (DuckDB) both use
    leftmost-FIRST alternation preference, so one ``regexp_replace``
    IS the greedy longest-match scan, bit-identically on both engines
    (pinned in tests/test_packing.py).

    Tokenization is a function of the word alone, so the corpus work
    is ONE distinct-word aggregate (vocab-sized frame, the bpe_train
    discipline); the encode itself is a zero-shuffle regex projection
    over that frame. Output: (word, freq, pieces, n_pieces, is_unk) —
    the per-word fertility table a tokenizer audit reads.

    Vocab pieces must be ``[a-z0-9]+`` (regex-metacharacter-free by
    construction; raises otherwise).
    """
    pattern = maxmatch_alternation(vocab)

    from ..functions.text import tokens

    freq = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    covered = F.regexp_replace(F.col("word"), pattern, "") == ""
    raw = F.trim(F.regexp_replace(F.col("word"), pattern, "$1 "))
    return freq.select(
        "word",
        "freq",
        F.when(covered, raw).otherwise(F.lit("[UNK]")).alias("pieces"),
        F.when(covered, F.size(F.split(raw, " ")).cast("long"))
        .otherwise(F.lit(1).cast("long"))
        .alias("n_pieces"),
        (~covered).alias("is_unk"),
    )


def maxmatch_alternation(vocab: Sequence[str]) -> str:
    """The validated (length-desc, lex) vocab alternation pattern the
    MaxMatch encode relies on — single-sourced so every consumer
    (``maxmatch_encode_words``, ``maxmatch_piece_counts``, the round10
    oracle fragments) shares one greedy-scan definition."""
    import re as _re

    if not vocab:
        raise ValueError("vocab must be non-empty")
    for p in vocab:
        if not _re.fullmatch(r"[a-z0-9]+", p):
            raise ValueError(
                f"vocab piece {p!r} must match [a-z0-9]+ (portable, "
                "escape-free alternation)"
            )
    if len(set(vocab)) != len(vocab):
        raise ValueError("vocab pieces must be unique")
    return "(" + "|".join(sorted(vocab, key=lambda p: (-len(p), p))) + ")"


def maxmatch_piece_counts(
    words: DataFrame, vocab: Sequence[str], word_col: str = "word"
) -> DataFrame:
    """``(word, n_pieces)`` over the DISTINCT words of an already
    exploded frame — the sizing-only slice of ``maxmatch_encode_words``
    for callers that hold a token explode ALREADY (tokenizer-true
    delivery): reusing the caller's frame keeps the corpus text scan
    shared instead of re-exploding it, and skips the freq aggregate
    a sizing consumer discards."""
    pattern = maxmatch_alternation(vocab)
    covered = F.regexp_replace(F.col("word"), pattern, "") == ""
    raw = F.trim(F.regexp_replace(F.col("word"), pattern, "$1 "))
    return (
        words.select(F.col(word_col).alias("word"))
        .distinct()
        .select(
            "word",
            F.when(covered, F.size(F.split(raw, " ")).cast("long"))
            .otherwise(F.lit(1).cast("long"))
            .alias("n_pieces"),
        )
    )


def packing_efficiency_report(
    sized: DataFrame,
    orders: dict[str, list[str]],
    token_budget: int = 512,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Padding/overflow audit of the greedy prefix-sum packer under
    alternative pack ORDERS — the number a data engineer actually tunes
    packing with: every sequence shorter than the budget pads up to it
    (wasted compute), every pack-with-overflow sequence carries tokens
    past it (truncation risk), and BOTH are pure functions of the order
    documents enter the prefix sum. ``orders`` maps an order name to the
    ``pack_sequences`` ``order_cols`` for it (columns must exist on
    ``sized``; each must be a total order).

    One row per order: ``n_seqs``, ``total_tokens`` (order-invariant —
    a built-in cross-check), ``padding_tokens`` =
    Σ max(budget − seq_tokens, 0), ``overflow_tokens`` =
    Σ max(seq_tokens − budget, 0), and ``padding_ppm`` =
    padding·1e6 div (n_seqs·budget) — all exact BIGINT arithmetic, so
    the report is engine-portable (integer ``div``, no float ratios).

    Scale shape: one pack (a range shuffle + broadcast offsets) and one
    seq-level aggregate per order — k orders cost k passes, each the
    same plan the delivery itself runs; the result is k rows.

    Reference pendant: none — greenfield trainer-facing audit
    (SURVEY.md §2 beyond-reference set).
    """
    if not orders:
        raise ValueError("orders must name at least one pack order")
    out = []
    for name, order_cols in sorted(orders.items()):
        packed = pack_sequences(
            sized,
            token_budget=token_budget,
            id_col=id_col,
            tokens_col=tokens_col,
            order_cols=list(order_cols),
        )
        seqs = packed.groupBy("seq_id").agg(
            F.sum(tokens_col).cast("long").alias("seq_tokens")
        )
        agg = seqs.agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.sum("seq_tokens").cast("long").alias("total_tokens"),
            F.sum(
                F.greatest(
                    F.lit(token_budget).cast("long") - F.col("seq_tokens"),
                    F.lit(0).cast("long"),
                )
            )
            .cast("long")
            .alias("padding_tokens"),
            F.sum(
                F.greatest(
                    F.col("seq_tokens") - F.lit(token_budget).cast("long"),
                    F.lit(0).cast("long"),
                )
            )
            .cast("long")
            .alias("overflow_tokens"),
        )
        out.append(
            agg.select(
                F.lit(name).alias("order_name"),
                "n_seqs",
                "total_tokens",
                "padding_tokens",
                "overflow_tokens",
                # GREATEST guards the empty-corpus division on both
                # engines (DuckDB // raises on zero, Spark div NULLs)
                F.expr(
                    f"padding_tokens * 1000000 div "
                    f"(greatest(n_seqs, 1) * {token_budget})"
                )
                .cast("long")
                .alias("padding_ppm"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def sequence_boundaries(
    sized: DataFrame,
    token_budget: int = 512,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-sequence document boundaries for packed training batches:
    a trainer that packs multiple documents into one sequence needs the
    within-sequence start offset of every document to reset position
    ids and mask cross-document attention (the standard packed-batch
    attention-mask construction). This materializes exactly that — per
    ``seq_id``: ``n_docs``, ``seq_tokens``, and ``boundaries``, the
    ascending ':'-joined start offsets (first is always 0).

    Boundaries come straight from the pack's OWN exclusive prefix sum
    (``include_position=True``): a doc's within-sequence offset is its
    global prefix position minus the sequence's minimum — no second
    pass over text. Zero-token docs (NULL/empty text) are EXCLUDED
    here: they occupy zero positions, so they have no boundary for a
    trainer to reset at — and dropping them is what makes the
    ``seq_id`` partition genuinely budget-bounded (every remaining doc
    carries >=1 token, so a sequence holds at most ``token_budget``
    docs plus one overflow doc; with zero-token rows kept, a run of N
    empty docs would pile N rows into ONE partition). Excluding them
    does not perturb anyone else's offsets — a zero-token doc never
    advances the prefix sum. Accounting-wise they still ride
    deliveries via ``pack_sequences``/``assign_shards`` (the
    NULL-survival rule); this op is the position contract, not the
    accounting contract. With every doc >=1 token, offsets within a
    sequence are strictly increasing — no ties — and the ascending
    ':'-joined STRING (driver results ban array columns) is
    deterministic.

    Reference pendant: none — greenfield trainer-facing op
    (SURVEY.md §2 beyond-reference set).
    """
    from pyspark.sql import Window

    positive = sized.filter(
        F.coalesce(F.col(tokens_col).cast("long"), F.lit(0)) > 0
    )
    packed = pack_sequences(
        positive,
        token_budget=token_budget,
        id_col=id_col,
        tokens_col=tokens_col,
        order_cols=order_cols,
        include_position=True,
    )
    w = Window.partitionBy("seq_id")
    off = (F.col("position") - F.min("position").over(w)).alias("off")
    return (
        packed.select("seq_id", tokens_col, off)
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(tokens_col).cast("long").alias("seq_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("off")),
                    lambda x: x.cast("string"),
                ),
                ":",
            ).alias("boundaries"),
        )
    )
