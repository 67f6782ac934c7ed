"""Unigram-LM (SentencePiece-style) tokenizer trainer — Viterbi hard-EM.

The third tokenizer family beside BPE (``packing.bpe_train``) and
MaxMatch (``packing.maxmatch_encode_words``): start from ALL substrings
(length <= ``lmax``) of the corpus's distinct words as the seed vocab,
then iterate EM — E-step segments every word into its minimum-cost piece
sequence under the current piece costs (Viterbi), M-step re-counts
pieces from those segmentations and re-derives costs. Pieces that no
best segmentation uses are pruned; single characters are always kept
(with a floor count of 1) so every word stays coverable — the classic
SentencePiece coverage rule.

This is the HARD-EM (Viterbi) variant of the SentencePiece trainer:
the E-step uses the single best segmentation rather than full
forward-backward posteriors. That choice is what makes the trainer
EXACT and engine-portable — the published algorithm's lattice
posteriors are float-heavy with no stable cross-engine rounding, while
hard-EM needs only (a) integer Viterbi DP and (b) one ln() per piece
per iteration:

- piece costs are INTEGER micro-nats, ``round(1e6 * ln(total/cnt))``
  as BIGINT — the one transcendental evaluates once per piece and is
  rounded to an ABSOLUTE precision of 0.5 micro-nats, ~7 orders of
  magnitude above any libm ulp disagreement between engines (compare
  the repo's usual 6-dp rounding of raw ln values);
- the DP itself sums BIGINTs — exact on every engine;
- ties (equal-cost segmentations) break toward the SMALLEST split
  point, i.e. the longest last piece, then recursively the same rule —
  deterministic on both engines.

The DuckDB oracle unrolls both EM iterations and each iteration's DP
(positions 1..wmax) and backtrace (up to wmax steps) as MATERIALIZED
CTEs — the BPE/HITS/logistic-GD recipe; MATERIALIZED matters because
the dp_k chain references dp_{k-1} twice and naive inlining is
exponential.

Scale shape (the maxmatch/BPE pattern): the CORPUS pays one
distinct-word aggregate; everything after runs on vocab-sized frames —
the substring table is |words| × wmax × lmax rows, the per-iteration
collect is the piece table (bounded by that same substring table), and
the Viterbi pass is an Arrow batch UDF over distinct WORDS (not
documents) with the piece->cost dict in its closure (a few MB at a
100k-word vocab; the same broadcast-closure convention as the IVF
centroids). Words longer than ``wmax`` are excluded from TRAINING
(bounded-DP contract; raise wmax for long-token domains — cost is
linear in it).

Reference pendant: none — greenfield LLM-pipeline operator
(SURVEY.md §2 beyond-reference set).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..utils import driver_frame


def _int_cost(total: int, cnt: int) -> int:
    """round(1e6 * ln(total/cnt)) with explicit HALF-UP (python round()
    is banker's; the engines round half away from zero)."""
    return math.floor(1e6 * math.log(total / cnt) + 0.5)


def _viterbi_udf(cost: dict[str, int], lmax: int):
    """Best segmentation of each word under integer piece costs.

    dp[i] = min over piece lengths l of dp[i-l] + cost(word[i-l:i]);
    backtrace prefers the smallest split point (longest piece). Pure
    integer arithmetic — bit-identical to the oracle's unrolled DP.
    """

    @F.pandas_udf("array<string>")
    def segment(words: pd.Series) -> pd.Series:
        out = []
        for w in words:
            n = len(w)
            inf = float("inf")
            dp = [0] + [inf] * n
            for i in range(1, n + 1):
                for l in range(1, min(lmax, i) + 1):
                    p = w[i - l : i]
                    c = cost.get(p)
                    if c is not None and dp[i - l] + c < dp[i]:
                        dp[i] = dp[i - l] + c
            path = []
            pos = n
            while pos > 0:
                for j in range(max(0, pos - lmax), pos):
                    p = w[j:pos]
                    c = cost.get(p)
                    if c is not None and dp[j] + c == dp[pos]:
                        path.append(p)
                        pos = j
                        break
                else:  # uncoverable (never happens: chars always kept)
                    path.append(w[:pos])
                    break
            out.append(path[::-1])
        return pd.Series(out)

    return segment


def _seed_vocab(docs, text_col, lmax, wmax):
    """(words, chars, seed vocab) — the shared seed construction for
    BOTH EM variants: distinct training-eligible words with counts, the
    single-character set, and the all-substrings seed counts. One
    definition so the substring lattice cannot drift between hard-EM,
    soft-EM and the SQL oracles."""
    words = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.length("word") <= wmax)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    ).localCheckpoint(eager=False)  # consumed once per EM iteration

    # all (start, len<=lmax) substrings — pure JVM expressions
    sub = words.select(
        "word",
        "f",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(word)), s ->
                    transform(sequence(1, least({lmax}, length(word) - s + 1)),
                              l -> struct(substring(word, s, l) AS piece,
                                          l AS l))))"""
            )
        ).alias("e"),
    ).select("word", "f", "e.piece", "e.l")
    chars = sub.filter(F.col("l") == 1).select("piece").distinct()
    vocab = sub.groupBy("piece").agg(F.sum("f").cast("long").alias("cnt"))
    return words, chars, vocab


def _em_vocab(docs, text_col, lmax, wmax, iters):
    """The shared EM loop: returns (words frame, final vocab frame) —
    consumed by the trainer (emits the piece table) and the encoder
    (segments under the final costs)."""
    words, chars, vocab = _seed_vocab(docs, text_col, lmax, wmax)

    for _ in range(iters):
        cost = _cost_dict(vocab)
        used = (
            words.select(
                "f", F.explode(_viterbi_udf(cost, lmax)("word")).alias("piece")
            )
            .groupBy("piece")
            .agg(F.sum("f").cast("long").alias("cnt"))
        )
        vocab = used.unionByName(
            chars.join(used, "piece", "left_anti").withColumn(
                "cnt", F.lit(1).cast("long")
            )
        ).localCheckpoint(eager=False)  # cut the per-iteration lineage
    return words, vocab


def _cost_dict(vocab) -> dict[str, int]:
    rows = vocab.collect()  # bounded: vocab-sized (see module doc)
    # int() normalizes Decimal counts (the soft path's exact sums) so
    # the cost division is the same double/double both engines compute
    total = int(sum(r["cnt"] for r in rows))
    return {r["piece"]: _int_cost(total, int(r["cnt"])) for r in rows}


def _softmin(xs: list[int]) -> int:
    """Quantized soft-min in integer micro-nats:
    ``min(xs) - round(1e6*ln(sum(round(1e6*exp(-(x-min)/1e6)))/1e6))``.
    Every transcendental evaluates at an INTEGER-determined argument and
    rounds half-up at 0.5-micro-unit absolute precision, so both engines
    compute the identical integer (the hard-EM portability argument,
    applied per log-sum-exp call); the inner sum is over INTEGERS, so
    float summation order cannot perturb it."""
    m = min(xs)
    s = sum(math.floor(1e6 * math.exp(-(x - m) / 1e6) + 0.5) for x in xs)
    return m - math.floor(1e6 * math.log(s / 1e6) + 0.5)


def _soft_post_udf(cost: dict[str, int], lmax: int):
    """Per-word edge posteriors under the quantized soft-EM recursion:
    forward/backward over the piece lattice with ``_softmin`` in place
    of min, edge weight ``W = round(1e6*exp(-max(fa[j]+cost+bb[i]-Z,
    0)/1e6))`` in integer micro-units (W of the best path is 1e6; the
    GREATEST clamp absorbs quantization making a path look better than
    Z). Emits the (piece, W) pairs with W > 0."""

    @F.pandas_udf("array<struct<piece:string,w:long>>")
    def post(words: pd.Series) -> pd.Series:
        out = []
        for wd in words:
            n = len(wd)
            fa: list[int | None] = [None] * (n + 1)
            fa[0] = 0
            for i in range(1, n + 1):
                terms = [
                    fa[j] + cost[wd[j:i]]
                    for j in range(max(0, i - lmax), i)
                    if fa[j] is not None and wd[j:i] in cost
                ]
                fa[i] = _softmin(terms) if terms else None
            bb: list[int | None] = [None] * (n + 1)
            bb[n] = 0
            for j in range(n - 1, -1, -1):
                terms = [
                    cost[wd[j:i]] + bb[i]
                    for i in range(j + 1, min(n, j + lmax) + 1)
                    if bb[i] is not None and wd[j:i] in cost
                ]
                bb[j] = _softmin(terms) if terms else None
            z = fa[n]
            pairs = []
            if z is not None:
                for j in range(n):
                    for i in range(j + 1, min(n, j + lmax) + 1):
                        p = wd[j:i]
                        if (
                            p in cost
                            and fa[j] is not None
                            and bb[i] is not None
                        ):
                            delta = max(fa[j] + cost[p] + bb[i] - z, 0)
                            w = math.floor(
                                1e6 * math.exp(-delta / 1e6) + 0.5
                            )
                            if w:
                                pairs.append((p, w))
            out.append(pairs)
        return pd.Series(out)

    return post


def _soft_vocab(docs, text_col, lmax, wmax, iters):
    """The soft-EM loop: (words frame, vocab frame of MICRO-counts).
    Seed vocab = raw substring counts (occurrences); from iteration 1
    on, counts are integer MICRO-occurrences (sum of f x W). Single
    chars are floored at 1e6 micro (one occurrence) for coverage —
    the soft pendant of hard-EM's floor of 1; multi-char pieces whose
    posterior mass rounds to zero everywhere prune naturally.

    Micro-count sums accumulate in DECIMAL(38,0) — micro-units are 1e6x
    occurrences, so a BIGINT sum would wrap 6 orders of magnitude
    sooner than hard-EM's raw counts while the DuckDB twin sums into
    HUGEINT; the exact decimal keeps the engines identical. The FINAL
    cast to long bounds output counts at ~9.2e18 micro (~9.2e12
    expected occurrences per piece)."""
    words, chars, vocab = _seed_vocab(docs, text_col, lmax, wmax)

    for _ in range(iters):
        cost = _cost_dict(vocab)
        used = (
            words.select(
                "f",
                F.explode(_soft_post_udf(cost, lmax)("word")).alias("e"),
            )
            .select("f", "e.piece", "e.w")
            .groupBy("piece")
            .agg(
                F.sum(
                    F.col("f").cast("decimal(38,0)") * F.col("w")
                ).alias("mcnt")
            )
            .filter(F.col("mcnt") > 0)
        )
        floored = chars.join(used, "piece", "left").select(
            "piece",
            F.greatest(
                F.coalesce(F.col("mcnt"), F.lit(0).cast("decimal(38,0)")),
                F.lit(1_000_000).cast("decimal(38,0)"),
            ).alias("cnt"),
        )
        multi = used.filter(F.length("piece") > 1).select(
            "piece", F.col("mcnt").alias("cnt")
        )
        vocab = floored.unionByName(multi).localCheckpoint(eager=False)
    return words, vocab


def train_unigram_soft(
    docs: DataFrame,
    text_col: str = "text",
    lmax: int = 4,
    wmax: int = 12,
    iters: int = 2,
    top: int | None = None,
) -> DataFrame:
    """Soft-EM (forward-backward) unigram trainer — the published
    SentencePiece E-step, made ENGINE-EXACT by quantizing the whole
    recursion to integer micro-nats (see ``_softmin``; hard-EM's
    ``train_unigram`` remains the Viterbi baseline). Returns (piece,
    n_uses_micro, cost_micro_nats): n_uses_micro is the piece's
    expected usage in MICRO-occurrences (1e6 = one expected occurrence;
    single chars floored at 1e6 for coverage), cost the final integer
    micro-nat cost. Sorted (n_uses_micro DESC, piece ASC), limited to
    ``top`` when given.

    Same scale shape as hard-EM: the corpus pays one distinct-word
    shuffle; the E-step is an Arrow batch over distinct words with the
    cost dict in closure; per-iteration state is the vocab-sized piece
    table. The DuckDB oracle unrolls forward+backward+posterior per
    iteration as MATERIALIZED CTEs (plans/round12.py); a pure-Python
    twin pins the math in tests/test_unigram.py.
    """
    spark = docs.sparkSession
    words, vocab = _soft_vocab(docs, text_col, lmax, wmax, iters)
    total = vocab.agg(F.sum("cnt")).first()[0]  # bounded 1-row scalar
    if not total:
        return driver_frame(
            spark, [], "piece string, n_uses_micro long, cost_micro_nats long"
        )
    out = vocab.select(
        "piece",
        F.col("cnt").cast("long").alias("n_uses_micro"),
        F.round(
            F.lit(1e6)
            * F.log(F.lit(float(total)) / F.col("cnt").cast("double")),
            0,
        )
        .cast("long")
        .alias("cost_micro_nats"),
    ).orderBy(F.desc("n_uses_micro"), F.asc("piece"))
    return out.limit(top) if top is not None else out


def train_unigram(
    docs: DataFrame,
    text_col: str = "text",
    lmax: int = 4,
    wmax: int = 12,
    iters: int = 2,
    top: int | None = None,
) -> DataFrame:
    """Train the unigram piece table; returns (piece, n_uses,
    cost_micro_nats) sorted by (n_uses DESC, piece ASC), limited to
    ``top`` when given. ``n_uses`` is the hard-EM piece count with the
    single-character floor of 1 (kept-for-coverage chars that no best
    segmentation uses)."""
    spark = docs.sparkSession
    words, vocab = _em_vocab(docs, text_col, lmax, wmax, iters)

    total = vocab.agg(F.sum("cnt")).first()[0]  # bounded 1-row scalar
    if not total:
        # no training-eligible words (empty/NULL corpus, or every token
        # longer than wmax): degrade to an empty piece table, the same
        # contract as every other operator, instead of float(None)
        return driver_frame(
            spark, [], "piece string, n_uses long, cost_micro_nats long"
        )
    out = vocab.select(
        "piece",
        F.col("cnt").alias("n_uses"),
        F.round(F.lit(1e6) * F.log(F.lit(float(total)) / F.col("cnt")), 0)
        .cast("long")
        .alias("cost_micro_nats"),
    ).orderBy(F.desc("n_uses"), F.asc("piece"))
    return out.limit(top) if top is not None else out


def unigram_encode(
    docs: DataFrame,
    text_col: str = "text",
    lmax: int = 4,
    wmax: int = 12,
    iters: int = 2,
) -> DataFrame:
    """Segment every distinct training-eligible word under the TRAINED
    unigram model (the inference half, pairing ``train_unigram`` the way
    ``bpe_encode`` pairs ``bpe_train``): one more Viterbi pass under the
    final vocabulary's costs, emitting ``(word, n_pieces, encoded)``
    with ``encoded`` the space-joined minimum-cost piece sequence.

    Same scale shape as training: the pass runs over the DISTINCT-word
    frame with the final cost dict in the UDF closure; applying the
    segmentation to full documents is then a broadcast word->encoded
    map join (or fold this frame into a regex the way maxmatch does).
    """
    words, vocab = _em_vocab(docs, text_col, lmax, wmax, iters)
    cost = _cost_dict(vocab)
    seg = _viterbi_udf(cost, lmax)("word").alias("pieces")
    return words.select("word", seg).select(
        "word",
        F.size("pieces").cast("long").alias("n_pieces"),
        F.array_join("pieces", " ").alias("encoded"),
    )
