"""Sequence packing — distributed prefix sum correctness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalakeingestion_spark.operators.packing import pack_sequences


def _local_pack(rows, budget):
    out, cum = {}, 0
    for doc_id, n in sorted(rows):
        out[doc_id] = cum // budget
        cum += n
    return out


@pytest.mark.smoke
def test_pack_matches_serial_reference_across_partitions(spark):
    # token counts chosen to straddle budget boundaries; 7 range
    # partitions force offsets to matter (any wrong offset shifts seq_ids)
    rows = [(i, (i * 37) % 190) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: r["seq_id"]
        for r in pack_sequences(
            df, token_budget=512, num_partitions=7
        ).collect()
    }
    assert got == _local_pack(rows, 512)


def test_pack_single_doc_larger_than_budget_stays_whole(spark):
    rows = [(1, 10), (2, 5000), (3, 10)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: r["seq_id"]
        for r in pack_sequences(df, token_budget=512, num_partitions=2).collect()
    }
    # doc 2 overflows its sequence but is never split; doc 3 starts at
    # floor(5010/512) = 9
    assert got == {1: 0, 2: 0, 3: 9}


def test_pack_rejects_nonpositive_budget(spark):
    df = spark.createDataFrame([(1, 1)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError):
        pack_sequences(df, token_budget=0)


def test_tokenize_to_ids_roundtrip_and_rank_order(spark):
    """Frequency-sorted ids: the most frequent token gets id 1; encoding
    preserves position order; empty docs yield no row."""
    from datalakeingestion_spark.operators.packing import tokenize_to_ids

    rows = [(1, "b a a"), (2, "a b c"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in tokenize_to_ids(df).collect()}
    assert 3 not in out
    # freqs: a=3, b=2, c=1 -> ids a=1, b=2, c=3
    assert list(out[1].token_ids) == [2, 1, 1]
    assert list(out[2].token_ids) == [1, 2, 3]
    assert out[1].n_tokens == 3


def test_keyed_prefix_sum_matches_window_across_partitions(spark):
    """keyed_prefix_sum over many range buckets must equal the window
    form SUM() OVER (PARTITION BY key ORDER BY ord): with 8 buckets and
    3×200 rows every key spans several buckets, exercising the
    driver-computed offset path."""
    import random

    from pyspark.sql import Window

    from datalakeingestion_spark.operators.packing import keyed_prefix_sum

    rng = random.Random(7)
    rows = [
        (k, i, rng.randint(0, 9))
        for k in ("a", "b", "c")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k string, ord long, w long")

    got = keyed_prefix_sum(
        df, ["k"], ["ord"], "w", out_col="cum", num_partitions=8
    )

    w = Window.partitionBy("k").orderBy("ord").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.withColumn("cum", F.sum("w").over(w))
    assert got.count() == 600
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0


def test_keyed_prefix_sum_composite_key_and_empty(spark):
    """Composite (k1, k2) keys get independent running sums; an empty
    frame passes through with the cum column attached."""
    from datalakeingestion_spark.operators.packing import keyed_prefix_sum

    rows = [
        ("a", 1, 10, 5),
        ("a", 1, 20, 7),
        ("a", 2, 10, 1),
        ("b", 1, 10, 2),
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 long, ord long, w long")
    got = {
        (r.k1, r.k2, r.ord): r.cum
        for r in keyed_prefix_sum(
            df, ["k1", "k2"], ["ord"], "w", num_partitions=4
        ).collect()
    }
    assert got == {
        ("a", 1, 10): 5,
        ("a", 1, 20): 12,
        ("a", 2, 10): 1,
        ("b", 1, 10): 2,
    }

    empty = df.limit(0)
    out = keyed_prefix_sum(empty, ["k1"], ["ord"], "w")
    assert out.columns == ["k1", "k2", "ord", "w", "cum"]
    assert out.count() == 0


def test_keyed_prefix_sum_null_key_group(spark):
    """A NULL key is one group like groupBy treats it: its running sum
    must continue across range buckets (the offsets join has to be
    null-safe; a plain equi-join would silently restart at 0 in every
    bucket)."""
    from datalakeingestion_spark.operators.packing import keyed_prefix_sum

    rows = [(None, i, 1) for i in range(100)] + [("a", i, 1) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, ord long, w long")
    got = keyed_prefix_sum(
        df, ["k"], ["ord"], "w", out_col="cum", num_partitions=8
    )
    agg = {
        r["k"]: r["m"]
        for r in got.groupBy("k").agg(F.max("cum").alias("m")).collect()
    }
    assert agg == {None: 100, "a": 50}


def test_pack_sequences_rejects_reserved_columns(spark):
    """An input column named _k would be clobbered by the constant key;
    fail fast instead of silently producing a broken order."""
    import pytest as _pytest

    df = spark.createDataFrame([(1, 2, 3)], "_k long, doc_id long, n_tokens long")
    with _pytest.raises(ValueError, match="reserved"):
        pack_sequences(df, order_cols=["_k"])


def test_pack_sequences_rejects_reserved_tokens_col(spark):
    """tokens_col named _k would be overwritten by the constant key
    (every weight silently becomes 1) — must raise like the order-col
    case does."""
    df = spark.createDataFrame([(1, 7)], "doc_id long, _k long")
    with pytest.raises(ValueError, match="reserved"):
        pack_sequences(df, tokens_col="_k")


def test_keyed_prefix_sum_survives_clear_cache(spark):
    """The collected offsets are keyed by the bucketed frame's partition
    ids. repartitionByRange samples its boundaries, so a recompute after
    cache loss is not guaranteed to reproduce the same _pid assignment —
    the bucketed frame is eagerly localCheckpoint'ed to make recompute
    impossible. Pin it: clearing every cache between planning and
    evaluation must still yield the exact serial sums."""
    from pyspark.storagelevel import StorageLevel

    from datalakeingestion_spark.operators.packing import keyed_prefix_sum

    rows = [("a", i, i % 5) for i in range(300)] + [
        ("b", i, (i * 3) % 7) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, ord long, w long")
    out = keyed_prefix_sum(df, ["k"], ["ord"], "w", num_partitions=8)

    # simulate a hostile caller: drop every catalog cache entry AND ask
    # the context cleaner to run before the first evaluation
    spark.catalog.clearCache()

    want = {}
    for k in ("a", "b"):
        running = 0
        for _, i, w in sorted(r for r in rows if r[0] == k):
            running += w
            want[(k, i)] = running
    got = {(r.k, r.ord): r.cum for r in out.collect()}
    assert got == want


def test_keyed_prefix_sum_data_sized_keys_raise(spark, monkeypatch):
    """A data-sized key cardinality must fail loudly (driver OOM guard),
    with a message naming the keyed-window alternative."""
    from datalakeingestion_spark.operators import packing
    from datalakeingestion_spark.operators.packing import keyed_prefix_sum

    monkeypatch.setattr(packing, "MAX_SUBTOTAL_ROWS", 100)
    df = spark.range(200).selectExpr(
        "id as k", "id as ord", "CAST(1 AS LONG) as w"
    )
    with pytest.raises(ValueError, match="keyed window"):
        keyed_prefix_sum(df, ["k"], ["ord"], "w", num_partitions=4)


# ---------------------------------------------------------------------------
# bpe_train — iterative BPE merge trainer
# ---------------------------------------------------------------------------


def _python_bpe(words: dict[str, int], k: int):
    """Pure-Python reference BPE: word-frequency table, argmax pair
    (ties by (lhs, rhs)), greedy left-to-right merge application."""
    vocab = {tuple(w): c for w, c in words.items()}
    merges = []
    for rank in range(1, k + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (lhs, rhs), pc = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, lhs, rhs, lhs + rhs, pc))
        new_vocab: dict[tuple, int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lhs
                    and syms[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + c
        vocab = new_vocab
    return merges


def test_bpe_train_matches_pure_python_on_fixture_corpus(spark):
    """The distributed trainer must produce the exact merge table a
    serial reference BPE produces on the same word-frequency input —
    same pairs, same order, same counts, for several merges deep (each
    merge depends on all previous applications)."""
    from datalakeingestion_spark.functions.text import tokens
    from datalakeingestion_spark.operators.packing import bpe_train
    from datalakeingestion_spark.sources.fixtures import load_table

    from .conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    words: dict[str, int] = {}
    for r in docs.select(F.explode(tokens("text")).alias("w")).collect():
        words[r["w"]] = words.get(r["w"], 0) + 1
    want = _python_bpe(words, 6)
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, k=6).collect()
    ]
    assert got == want
    assert len(got) == 6  # the fixture corpus has >= 6 distinct merges


def test_bpe_train_greedy_overlap_and_early_stop(spark):
    """Greedy left-to-right application ("aaaa" + merge (a,a) gives two
    'aa' symbols, not three overlapping ones) and early stop when no
    pair remains."""
    from datalakeingestion_spark.operators.packing import bpe_train

    docs = spark.createDataFrame([("aaaa aaaa",)], "text string")
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train(docs, k=10).collect()
    ]
    # merge 1: (a,a) seen 3x per word x 2 words = 6; application leaves
    # each word as (aa)(aa) -> merge 2: (aa,aa) count 2; then one symbol
    # per word, no pairs left: early stop at 2 merges.
    assert got == [(1, "a", "a", 6), (2, "aa", "aa", 2)]

    with pytest.raises(ValueError, match="k must be"):
        bpe_train(docs, k=0)


def test_bpe_encode_matches_pure_python_application(spark):
    """Encoding with a trained merge table must equal the serial
    reference: per word, apply each merge greedily left-to-right in
    rank order; the doc's pieces are the concatenation in token order."""
    from datalakeingestion_spark.functions.text import tokens
    from datalakeingestion_spark.operators.packing import (
        bpe_encode,
        bpe_train,
    )
    from datalakeingestion_spark.sources.fixtures import load_table

    from .conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").limit(60)
    merges = [
        (r["merge_rank"], r["lhs"], r["rhs"])
        for r in bpe_train(docs, k=4).collect()
    ]

    def apply_merges(word: str) -> list[str]:
        syms = list(word)
        for _, lhs, rhs in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lhs
                    and syms[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    toks = {
        r["doc_id"]: r["t"]
        for r in docs.select("doc_id", tokens("text").alias("t")).collect()
    }
    want = {}
    for doc_id, words in toks.items():
        pieces = [p for w in words for p in apply_merges(w)]
        want[doc_id] = (len(pieces), " ".join(pieces))
    got = {
        r["doc_id"]: (r["n_pieces"], r["encoded"])
        for r in bpe_encode(docs, merges).collect()
    }
    assert got == want
    assert any(n > 0 for n, _ in got.values())


def test_bpe_encode_empty_doc_and_boundaries(spark):
    """Empty docs encode to 0 pieces / ''; a merge never crosses a word
    boundary (pair ('a','b') must not merge across 'xa' | 'by')."""
    from datalakeingestion_spark.operators.packing import bpe_encode

    docs = spark.createDataFrame(
        [(1, ""), (2, "xa by ab"), (3, "ab ab")],
        "doc_id long, text string",
    )
    merges = [(1, "a", "b")]
    got = {
        r["doc_id"]: (r["n_pieces"], r["encoded"])
        for r in bpe_encode(docs, merges).collect()
    }
    assert got == {
        1: (0, ""),
        2: (5, "x a b y ab"),  # xa -> x a, by -> b y, ab -> ab
        3: (2, "ab ab"),
    }


def test_bpe_encode_oracle_survives_fewer_than_k_merges(spark):
    """The k=3 encode oracle must not collapse to zero rows when the
    corpus only admits ONE merge (empty b2/b3 CTEs pass syms through
    via LEFT JOIN, mirroring Spark's shorter merge list) — both engines
    must return one row per document with identical encodings."""
    import duckdb

    import __spark_entry__ as entry
    from datalakeingestion_spark.operators.packing import (
        bpe_encode,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab"), (3, "")], "doc_id long, text string"
    )
    merges = [
        (r["merge_rank"], r["lhs"], r["rhs"])
        for r in bpe_train(docs, k=3).collect()
    ]
    assert len(merges) == 1  # the corpus really admits only one merge
    got = {
        r["doc_id"]: (r["n_pieces"], r["encoded"])
        for r in bpe_encode(docs, merges).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'ab ab'), (2, 'ab'), (3, '')) t(doc_id, text)"
    )
    oracle = {
        row[0]: (row[1], row[2])
        for row in con.execute(
            entry.oracle_sql()["bpe_encode_k3"]
        ).fetchall()
    }
    assert oracle == got == {1: (2, "ab ab"), 2: (1, "ab"), 3: (0, "")}


def test_bpe_fertility_matches_per_doc_recount(spark):
    """Group fertility must equal sum(pieces)/sum(words) recomputed
    from bpe_encode's per-doc output + the token counts; empty docs
    count toward n_docs with 0/0 contribution; a group of ONLY empty
    docs gets NULL fertility, not 0.0."""
    from datalakeingestion_spark.functions.text import tokens
    from datalakeingestion_spark.operators.packing import (
        bpe_encode,
        bpe_fertility,
    )

    docs = spark.createDataFrame(
        [
            (1, "en", "ab ab cd"),
            (2, "en", "ab"),
            (3, "de", "xy xy xy zz"),
            (4, "de", ""),
            (5, "xx", ""),  # a group with zero words overall
        ],
        "doc_id long, lang string, text string",
    )
    merges = [(1, "a", "b"), (2, "x", "y")]
    got = {
        r["lang"]: (r["n_docs"], r["n_words"], r["n_pieces"], r["fertility"])
        for r in bpe_fertility(docs, merges, by_col="lang").collect()
    }
    enc = {
        r["doc_id"]: r["n_pieces"]
        for r in bpe_encode(docs, merges).collect()
    }
    words = {
        r["doc_id"]: len(r["t"])
        for r in docs.select("doc_id", tokens("text").alias("t")).collect()
    }
    by = {}
    for doc_id, lang in [(1, "en"), (2, "en"), (3, "de"), (4, "de"),
                         (5, "xx")]:
        d = by.setdefault(lang, [0, 0, 0])
        d[0] += 1
        d[1] += words[doc_id]
        d[2] += enc[doc_id]
    for lang, (nd, nw, np_) in by.items():
        fert = round(np_ / nw, 6) if nw else None
        assert got[lang] == (nd, nw, np_, fert), lang
    # spot values: en = 'ab ab cd' + 'ab' -> pieces ab,ab,c,d + ab = 5
    # over 4 words; the zero-word group keeps NULL fertility
    assert got["en"] == (2, 4, 5, round(5 / 4, 6))
    assert got["xx"] == (1, 0, 0, None)


def test_maxmatch_encode_greedy_longest_first_and_unk(spark):
    import pytest
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.packing import (
        maxmatch_encode_words,
    )

    docs = spark.createDataFrame(
        [
            (1, "unaffable the them x9z the"),
        ],
        "doc_id long, text string",
    )
    vocab = ("the", "un", "aff", "able", "them", "m", "a", "b", "e",
             "f", "l", "n", "u", "x", "z")
    out = {
        r["word"]: (r["freq"], r["pieces"], r["n_pieces"], r["is_unk"])
        for r in maxmatch_encode_words(docs, vocab).collect()
    }
    # longest piece wins at each position
    assert out["unaffable"] == (1, "un aff able", 3, False)
    # 'them' is matched whole, not 'the'+'m' (longest-first)
    assert out["them"] == (1, "them", 1, False)
    assert out["the"] == (2, "the", 1, False)
    # '9' has no piece -> the WHOLE word is [UNK] (WordPiece rule)
    assert out["x9z"] == (1, "[UNK]", 1, True)

    # greedy stranding is the documented MaxMatch semantics: with vocab
    # (ab, a, c) the word 'abc' covers, but 'aab' does too via a+ab —
    # while with (aa, ab, b-less) 'aab' strands: aa + uncovered 'b'
    out2 = {
        r["word"]: r["pieces"]
        for r in maxmatch_encode_words(
            spark.createDataFrame([(1, "aab")], "doc_id long, text string"),
            ("aa", "ab"),
        ).collect()
    }
    assert out2["aab"] == "[UNK]"

    with pytest.raises(ValueError, match="a-z0-9"):
        maxmatch_encode_words(docs, ("ok", "no|pe"))
    with pytest.raises(ValueError, match="unique"):
        maxmatch_encode_words(docs, ("a", "a"))
    with pytest.raises(ValueError, match="non-empty"):
        maxmatch_encode_words(docs, ())


def test_maxmatch_piece_counts_matches_encode(spark):
    """The sizing-only slice over a pre-exploded frame must agree with
    the full encode's n_pieces per distinct word (shared alternation),
    and share its vocab validation."""
    import pytest
    from pyspark.sql import functions as F

    from datalakeingestion_spark.functions.text import tokens
    from datalakeingestion_spark.operators.packing import (
        maxmatch_encode_words,
        maxmatch_piece_counts,
    )

    docs = spark.createDataFrame(
        [(1, "unaffable the them x9z the")],
        "doc_id long, text string",
    )
    vocab = ("the", "un", "aff", "able", "them", "m", "a", "b", "e",
             "f", "l", "n", "u", "x", "z")
    words = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    got = {
        r["word"]: r["n_pieces"]
        for r in maxmatch_piece_counts(words, vocab).collect()
    }
    want = {
        r["word"]: r["n_pieces"]
        for r in maxmatch_encode_words(docs, vocab).collect()
    }
    assert got == want  # one row per DISTINCT word, same counts

    with pytest.raises(ValueError, match="a-z0-9"):
        maxmatch_piece_counts(words, ("no|pe",))


def test_maxmatch_property_vs_python_reference(spark):
    """The regex-alternation trick must equal the textbook greedy
    longest-match-first loop on arbitrary words/vocabs — the property
    that justifies implementing a tokenizer as one regexp_replace."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datalakeingestion_spark.operators.packing import (
        maxmatch_encode_words,
    )

    def py_maxmatch(word: str, vocab: set[str]) -> tuple[str, bool]:
        pieces, i, longest = [], 0, max(len(p) for p in vocab)
        while i < len(word):
            for ln in range(min(longest, len(word) - i), 0, -1):
                if word[i : i + ln] in vocab:
                    pieces.append(word[i : i + ln])
                    i += ln
                    break
            else:
                return "[UNK]", True
        return " ".join(pieces), False

    alphabet = "abc1"
    words_s = st.lists(
        st.text(alphabet=alphabet, min_size=1, max_size=8),
        min_size=1,
        max_size=6,
    )
    vocab_s = st.sets(
        st.text(alphabet=alphabet, min_size=1, max_size=3),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=12, deadline=None)
    @given(words=words_s, vocab=vocab_s)
    def check(words, vocab):
        docs = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )
        got = {
            r["word"]: (r["pieces"], r["is_unk"])
            for r in maxmatch_encode_words(
                docs, tuple(sorted(vocab))
            ).collect()
        }
        for w in set(words):
            assert got[w] == py_maxmatch(w, vocab), (w, sorted(vocab))

    check()


def test_packing_efficiency_report_exact_counts(spark):
    """Hand-computed padding/overflow per order, exact integer ppm."""
    from datalakeingestion_spark.operators.packing import (
        packing_efficiency_report,
    )

    # natural (doc_id) order: cum 0,300,600 -> seqs {0: 600, 1: 300}
    # curriculum (n_tokens,doc_id): 100,300,500 -> cum 0,100,400 ->
    # seq0 holds all three (900 tokens, overflow 388)
    rows = [(1, 300), (2, 300), (3, 300)]
    rows_c = [(1, 100), (2, 300), (3, 500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["order_name"]: r
        for r in packing_efficiency_report(
            df, {"natural": ["doc_id"]}, token_budget=512
        ).collect()
    }["natural"]
    assert (got["n_seqs"], got["total_tokens"]) == (2, 900)
    assert (got["padding_tokens"], got["overflow_tokens"]) == (212, 88)
    assert got["padding_ppm"] == 212 * 1_000_000 // (2 * 512)

    dfc = spark.createDataFrame(rows_c, "doc_id long, n_tokens long")
    eff = {
        r["order_name"]: r
        for r in packing_efficiency_report(
            dfc,
            {"natural": ["doc_id"], "curriculum": ["n_tokens", "doc_id"]},
            token_budget=512,
        ).collect()
    }
    # same multiset of lengths -> total_tokens order-invariant
    assert eff["natural"]["total_tokens"] == eff["curriculum"]["total_tokens"]
    assert eff["curriculum"]["n_seqs"] == 1
    assert eff["curriculum"]["overflow_tokens"] == 900 - 512

    with pytest.raises(ValueError):
        packing_efficiency_report(df, {})


def test_sequence_boundaries_offsets_and_zero_token_exclusion(spark):
    """Within-sequence start offsets from the pack's own prefix sum;
    zero-token docs (no positional extent) are excluded WITHOUT
    perturbing anyone else's offsets — the budget-bound contract."""
    from datalakeingestion_spark.operators.packing import (
        sequence_boundaries,
    )

    # cum-before: d1=0, d2=100, d3=500 (all < 512 -> one sequence);
    # d4=700 -> seq 1 at offset 0; d5/d6 are zero-token docs sitting at
    # the running position after d4 — excluded from boundaries, and d7
    # behind them keeps the offset it would have had either way
    rows = [
        (1, 100), (2, 400), (3, 200), (4, 100), (5, 0), (6, 0), (7, 50),
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["seq_id"]: r
        for r in sequence_boundaries(df, token_budget=512).collect()
    }
    assert got[0]["n_docs"] == 3 and got[0]["seq_tokens"] == 700
    assert got[0]["boundaries"] == "0:100:500"
    # zero-token d5/d6 gone; d7 lands at offset 100 regardless of them
    assert got[1]["n_docs"] == 2 and got[1]["seq_tokens"] == 150
    assert got[1]["boundaries"] == "0:100"

    # NULL token counts are zero-token docs too (the coalesce boundary)
    rows2 = [(1, 300), (2, None), (3, 100)]
    df2 = spark.createDataFrame(rows2, "doc_id long, n_tokens long")
    (only,) = sequence_boundaries(df2, token_budget=512).collect()
    assert only["n_docs"] == 2 and only["boundaries"] == "0:300"


def _plans_as_local_relation(df) -> bool:
    qe = df._jdf.queryExecution()
    executed = qe.executedPlan().toString()
    return (
        "LocalRelation" in qe.optimizedPlan().toString()
        and "ExistingRDD" not in executed
        and "Generate" not in executed
    )


def test_driver_frame_plans_as_local_relation(spark):
    """utils.driver_frame hands driver-side rows to the JVM as Arrow: the
    frame plans as a LocalRelation (no applySchemaToPythonRDD scan, whose
    pickled-Python task wave re-ran on EVERY broadcast rebuild, and no
    per-row literal Generate); rows and schema match the createDataFrame
    form exactly, for empty, small and 10,001-row lists and for a DDL
    schema."""
    from pyspark.sql import types as T

    from datalakeingestion_spark.utils import driver_frame

    sch = T.StructType(
        [
            T.StructField("_pid", T.IntegerType()),
            T.StructField("k", T.StringType()),
            T.StructField("_off", T.LongType()),
        ]
    )
    rows = [(0, "a", 5), (1, None, 7), (2, "b", 0)]
    df = driver_frame(spark, rows, sch)
    assert df.schema.simpleString() == "struct<_pid:int,k:string,_off:bigint>"
    assert sorted(map(tuple, df.collect()), key=str) == sorted(rows, key=str)
    assert _plans_as_local_relation(df)

    assert driver_frame(spark, [], sch).count() == 0
    big = [(i, str(i), i) for i in range(10_001)]
    big_df = driver_frame(spark, big, sch)
    assert big_df.count() == len(big)
    assert _plans_as_local_relation(big_df)

    ddl = "_pid int, k string, _off long"
    from_ddl = driver_frame(spark, rows, ddl)
    assert from_ddl.schema == spark.createDataFrame(rows, ddl).schema
    assert sorted(map(tuple, from_ddl.collect()), key=str) == sorted(
        rows, key=str
    )
    assert _plans_as_local_relation(from_ddl)


def test_bounded_collect_decides_without_computing_columns(spark):
    """utils.bounded_collect decides over the bound without computing or
    shipping any column of the frame: Spark computes a collected
    ``limit(n + 1)`` by shuffling up to n + 1 rows from EVERY partition,
    so a decision that carried the columns would move partitions x (n + 1)
    full rows before learning the frame is too big. A column whose every
    evaluation raises must not fail the decision; under the bound the
    frame comes back whole."""
    from pyspark.sql.functions import udf

    from datalakeingestion_spark.utils import bounded_collect

    @udf("long")
    def boom(x):
        raise RuntimeError("column computed")

    df = spark.range(40, numPartitions=4).select("id", boom("id").alias("b"))
    assert bounded_collect(df, 10) is None
    assert bounded_collect(df, -1) is None
    assert bounded_collect(df.select("id"), 39) is None
    t = bounded_collect(df.select("id"), 40)
    assert sorted(t.column("id").to_pylist()) == list(range(40))
    assert bounded_collect(df.filter("id < 0"), 0).num_rows == 0


def test_driver_frame_schema_nullability_and_value_validation(spark):
    """driver_frame must (a) produce a schema EQUAL to createDataFrame's
    including nullability, and (b) raise a bad value at construction, as
    createDataFrame does (out-of-range integral, NULL in a non-nullable
    field, wrong Python type), never defer it to a runtime cast."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from datalakeingestion_spark.utils import driver_frame

    sch = T.StructType(
        [
            T.StructField("k", T.StringType(), True),
            T.StructField("pid", T.IntegerType(), False),
            T.StructField("off", T.LongType(), True),
        ]
    )
    rows = [("a", 1, 10), ("b", 2, None)]
    df = driver_frame(spark, rows, sch)
    cdf = spark.createDataFrame(rows, sch)
    assert df.schema == cdf.schema  # nullability included
    assert df._jdf.schema().json() == cdf._jdf.schema().json()
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, cdf.collect())
    )
    # out-of-range int, NULL in a non-nullable field, wrong Python type:
    # createDataFrame's error, class and message, at construction
    for bad, pattern in (
        ([("a", 2**40, 1)], "2147483647|OUT_OF_BOUNDS"),
        ([("a", None, 1)], "NOT_NULLABLE"),
        ([(1, 1, "x")], "UNACCEPTABLE"),
    ):
        with _pytest.raises(Exception, match=pattern) as want:
            spark.createDataFrame(bad, sch)
        with _pytest.raises(type(want.value)) as got:
            driver_frame(spark, bad, sch)
        assert str(got.value) == str(want.value)
