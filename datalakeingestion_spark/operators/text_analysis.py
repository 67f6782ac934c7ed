"""Text analysis operators — quality scoring, language-ID, token counting,
fingerprinting.

Greenfield LLM-pipeline operators over the ``documents`` table. All pure
column expressions (whole-stage codegen; zero Python UDFs); each has an
exact ANSI-SQL twin in plans/llm.py for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash60
from ..functions.text import (
    distinct_tokens,
    normalized_text,
    tokens,
    word_shingles,
)

# Tiny deterministic stopword lists for the n-gram language heuristic.
# Order of LANGS is the tie-break precedence of the argmax cascade.
STOPWORDS = {
    "en": ["the", "of", "and", "a", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"],
    "fr": ["le", "la", "les", "et", "un", "une", "est", "pour", "que", "dans"],
    "es": ["el", "los", "las", "y", "es", "por", "con", "para", "como", "su"],
}
LANGS = ["en", "de", "fr", "es"]


def quality_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + a composite score.

    - n_tokens / n_distinct_tokens — length features
    - ttr — type-token ratio (lexical diversity)
    - avg_token_len — alphanumeric chars per token
    - stopword_ratio — fraction of tokens in the EN stoplist
    - quality_score — ttr * min(1, n_tokens/50), a monotone blend of
      diversity and minimum-length (deterministic double arithmetic)
    """
    # r12 (guide §8.3): staged projection so the tokenize chain
    # (lower → regexp_replace → split → filter) runs ONCE per row. The
    # former single select repeated it inside 6 output expressions —
    # higher-order functions are codegen-fallback, so no subexpression
    # elimination applies there — and CollapseProject will NOT inline an
    # expensive alias referenced more than once, so the staging sticks.
    # Same expressions over the same values: results identical
    # (measured 1.7× at sf0.1, plan stays a zero-Exchange projection).
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    t, nrm = F.col("_toks"), F.col("_norm")
    n = F.size(t)
    nd = F.size(F.array_distinct(t))
    return (
        docs.select("doc_id", normalized_text(text_col).alias("_norm"))
        .select(
            "doc_id",
            F.filter(F.split(nrm, " "), lambda x: x != F.lit("")).alias(
                "_toks"
            ),
            F.length(F.regexp_replace(nrm, " ", "")).alias("_alnum"),
        )
        .select(
            "doc_id",
            n.alias("n_tokens"),
            nd.alias("n_distinct_tokens"),
            F.round(nd / n, 6).alias("ttr"),
            F.round(F.col("_alnum") / n, 6).alias("avg_token_len"),
            F.round(
                F.size(F.filter(t, lambda x: F.array_contains(en, x))) / n,
                6,
            ).alias("stopword_ratio"),
            F.round(
                (nd / n) * F.least(F.lit(1.0), n / F.lit(50.0)), 6
            ).alias("quality_score"),
        )
    )


def _lang_pred_cascade(hits: dict[str, Column]) -> Column:
    """Deterministic argmax over the hit expressions (precedence = LANGS
    order; all-zero → 'unknown'). Built back-to-front so earlier langs
    win ties."""
    pred = F.lit("unknown")
    for lang in reversed(LANGS):
        cond = hits[lang] > 0
        for other in LANGS:
            if LANGS.index(other) < LANGS.index(lang):
                cond = cond & (hits[lang] > hits[other])
            elif LANGS.index(other) > LANGS.index(lang):
                cond = cond & (hits[lang] >= hits[other])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic: per-language token hit counts and a
    deterministic argmax (precedence = LANGS order; all-zero → 'unknown')."""
    # r12: tokenize once (staged _toks column), then count hits per
    # language from the shared array — the former shape re-ran the
    # tokenize chain once per language (see quality_metrics note)
    def _contains(lst):
        return lambda t: F.array_contains(lst, t)

    hit_cols = {
        lang: F.size(
            F.filter(
                F.col("_toks"),
                _contains(F.array(*[F.lit(w) for w in STOPWORDS[lang]])),
            )
        )
        for lang in LANGS
    }
    df = docs.select(
        "doc_id", "lang", tokens(text_col).alias("_toks")
    ).select(
        "doc_id",
        "lang",
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in LANGS],
    )
    return df.withColumn(
        "predicted_lang",
        _lang_pred_cascade({lang: F.col(f"hits_{lang}") for lang in LANGS}),
    )


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish regex tokenization
    (alnum runs + individual non-alnum-non-space chars)."""
    return docs.select(
        "doc_id",
        F.size(tokens(text_col)).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0
            )
        ).alias("n_bpe_tokens"),
        F.size(distinct_tokens(text_col)).alias("n_distinct_tokens"),
    )


def token_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Shannon entropy of the token distribution per doc (nats).

    H = ln(n) − (Σ c·ln c)/n over per-token counts c — a language-model-
    free proxy for repetitiveness (low entropy → boilerplate/spam).
    Computed via explode + two-level aggregation (map-side partials);
    rounded to 6 dp so float summation order can't leak into comparisons.
    """
    toks = docs.select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.log(F.col("n_tokens")) - F.col("clogc") / F.col("n_tokens"), 6
            ).alias("entropy"),
        )
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: 60-bit portable hash of the normalized text
    (whitespace/punctuation-insensitive exact dedup key)."""
    return docs.select(
        "doc_id",
        portable_hash60(normalized_text(text_col)).alias("fingerprint"),
    )


# PII redaction patterns — written in the regex subset valid AND equivalent
# in both Java regex (Spark) and RE2 (DuckDB), so the oracle matches.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
URL_RE = r"https?://[^\s]+"
LONG_NUMBER_RE = r"[0-9]{7,}"


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/RefinedWeb-style repetition signals, per document.

    - dup_3gram_frac — fraction of 3-gram occurrences that are repeats
      (1 - distinct/total); boilerplate and looping generations score high
    - top_2gram_frac — share of the single most frequent 2-gram
    - keep — both signals under threshold (0.05/0.05 splits the fixture
      corpus ~390/500)

    Everything is per-doc column arithmetic — embarrassingly parallel,
    ZERO shuffles at any corpus size (this is why repetition filters are
    the cheap first stage of web-scale curation). The top-2-gram count
    runs over the SORTED shingle array with a single O(k) aggregate pass
    (longest equal-run), not an O(k²) count-per-element scan.
    """
    toks = tokens(text_col)
    sh3 = word_shingles(toks, 3)
    sh2_sorted = F.array_sort(word_shingles(toks, 2))

    def _merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    max_run = F.aggregate(
        sh2_sorted,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _merge,
        lambda acc: acc["best"],
    )
    dup3 = F.when(
        F.size(sh3) > 0,
        (F.size(sh3) - F.size(F.array_distinct(sh3))).cast("double")
        / F.size(sh3),
    ).otherwise(F.lit(0.0))
    # share of the dominant REPEATED 2-gram: a doc whose 2-grams are all
    # unique scores 0.0 regardless of length (1/(n-1) would otherwise flag
    # every short document)
    top2 = F.when(
        (F.size(sh2_sorted) > 0) & (max_run > 1),
        max_run.cast("double") / F.size(sh2_sorted),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        dup3.alias("dup_3gram_frac"),
        top2.alias("top_2gram_frac"),
        (
            (dup3 <= F.lit(0.05)) & (top2 <= F.lit(0.05))
        ).alias("keep"),
    )


def boilerplate_span_stats(
    docs: DataFrame,
    n: int = 3,
    df_threshold: int = 3,
    frac_threshold: float = 0.2,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document boilerplate detection (the C4/RefinedWeb idea of
    removing spans repeated across MANY documents — navigation chrome,
    license footers, templated headers — adapted to span shingles).

    A word ``n``-gram is boilerplate when it occurs in MORE THAN
    ``df_threshold`` distinct documents. Per document:
    - n_spans — distinct n-gram count,
    - boilerplate_frac — fraction of those that are boilerplate,
    - keep — boilerplate_frac ≤ ``frac_threshold``.

    Scale shape: ONE shuffle builds the span document-frequency table
    (map-side combinable groupBy), which is then FILTERED to just the
    boilerplate spans before joining back — the boilerplate set is tiny
    relative to the corpus (only spans crossing the df threshold), so at
    100 TB the join's build side stays broadcastable and the probe is a
    per-partition semi-probe of each doc's shingle list, never an
    all-spans × all-docs shuffle.
    """
    spans = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens(text_col), n))
        ).alias("span"),
    )
    boiler = (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("span_df"))
        .filter(F.col("span_df") > df_threshold)
        .select("span")
    )
    hits = (
        spans.join(F.broadcast(boiler), "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    per_doc = docs.select(
        "doc_id",
        F.size(F.array_distinct(word_shingles(tokens(text_col), n))).alias(
            "n_spans"
        ),
    )
    frac = F.when(
        F.col("n_spans") > 0,
        F.round(F.coalesce(F.col("n_boiler"), F.lit(0)) / F.col("n_spans"), 6),
    ).otherwise(F.lit(0.0))
    return per_doc.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        frac.alias("boilerplate_frac"),
        (frac <= F.lit(frac_threshold)).alias("keep"),
    )


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails, URLs, and long digit runs (phone/account numbers)
    before training — replacing each with a typed placeholder token.

    Redaction order matters and is fixed: emails first (their local part
    may contain digits), then URLs (their paths may contain digits), then
    bare long numbers — each pattern counted on the text as it existed at
    its own stage, so nothing is double-counted. Pure regexp_replace
    column expressions: per-doc, shuffle-free, linear in corpus size.
    """
    t0 = F.col(text_col)
    n_emails = F.regexp_count(t0, F.lit(EMAIL_RE))
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    n_urls = F.regexp_count(t1, F.lit(URL_RE))
    t2 = F.regexp_replace(t1, URL_RE, "<URL>")
    n_numbers = F.regexp_count(t2, F.lit(LONG_NUMBER_RE))
    t3 = F.regexp_replace(t2, LONG_NUMBER_RE, "<NUMBER>")
    return docs.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_urls.cast("long").alias("n_urls"),
        n_numbers.cast("long").alias("n_numbers"),
        t3.alias("clean_text"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    text_col: str = "text",
) -> DataFrame:
    """Split each document's token stream into fixed-size overlapping
    windows (stride = chunk_tokens - overlap) — the context-window
    chunking step for embedding/retrieval pipelines. Per-doc expression
    work only (sequence + posexplode + slice): zero shuffles, scales with
    cores. Empty documents yield no chunks; the final chunk keeps its
    natural (shorter) tail rather than padding.

    Returns (doc_id, chunk_id, chunk_text, n_chunk_tokens).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    base = docs.select("doc_id", toks.alias("_toks")).filter(
        F.size("_toks") > 0
    )
    starts = F.sequence(
        F.lit(0), F.size("_toks") - 1, F.lit(stride)
    )
    exploded = base.select(
        "doc_id", "_toks", F.posexplode(starts).alias("chunk_id", "_start")
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Perplexity-proxy quality score: per-doc mean log-probability under
    the corpus's own unigram language model (CCNet-style — docs whose
    token mix is far from the corpus distribution score low and are
    curation candidates).

    Two passes over the tokenized corpus:
      1. the model — token frequencies ``tf`` plus the total count (the
         vocabulary frame is tiny relative to the corpus and is reused via
         persist, so pass 2 never recomputes it);
      2. score — explode tokens, broadcast-join the vocabulary, aggregate
         the per-occurrence log-probs per doc.

    At 100 TB the vocabulary still fits a broadcast after a top-K cap
    (Zipf: everything below the cap can share one OOV floor probability);
    the join then touches the corpus exactly once with no shuffle on the
    fact side. Determinism: each log-prob is rounded to 6 dp and summed
    EXACTLY as decimal(27,6) — the mean is order-independent, so the
    value-hash comparison cannot be flipped by partitioning.

    Returns (doc_id, n_tokens, mean_logprob); docs with zero tokens have
    no distribution and yield no row.
    """
    toks = docs.select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf")).persist()
    total = vocab.agg(F.sum("tf")).first()[0]
    logp = F.round(
        F.log(F.col("tf").cast("double") / F.lit(float(total))), 6
    ).cast("decimal(27,6)")
    return (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(logp).alias("_s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("_s").cast("double") / F.col("n_tokens"), 6
            ).alias("mean_logprob"),
        )
    )


def bigram_logprob(
    docs: DataFrame, text_col: str = "text", k: float = 0.5
) -> DataFrame:
    """Per-doc mean log-probability under the corpus's own BIGRAM language
    model with add-k smoothing — the next perplexity-proxy step up from
    :func:`unigram_logprob`: unigram LMs can't see scrambled word order,
    bigram LMs can, so this separates fluent text from bag-of-words spam
    the unigram score rates identically.

    P(w2|w1) = (c(w1 w2) + k) / (c(w1·) + k·V) where c(w1·) counts w1 as
    a bigram head and V is the corpus unigram vocabulary size.

    Shuffle economy: the bigram stream (built by the zip-shift shingle
    expression — no per-element re-tokenization) shuffles once into the
    model counts; head counts derive FROM the bigram counts (groupBy on
    the head — a frame of distinct-bigram size, not corpus size) and are
    broadcast back; scoring joins the corpus's bigram stream to the
    model. At this SF the model side broadcasts (AQE decides); at 100 TB
    it becomes an ordinary hash join on the bigram key — never all-pairs.
    Determinism: per-bigram log-probs rounded to 6 dp and summed as
    decimal(27,6), so the mean is partitioning-independent.

    Returns (doc_id, n_bigrams, mean_logprob); docs with < 2 tokens have
    no bigrams and yield no row.
    """
    toks = docs.select("doc_id", tokens(text_col).alias("toks"))
    bi = toks.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), 2)).alias("bg")
    )
    vsz = (
        toks.select(F.explode("toks").alias("tok"))
        .agg(F.count_distinct("tok"))
        .first()[0]
    )
    c2 = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    heads = (
        c2.groupBy(F.element_at(F.split("bg", " "), 1).alias("w1"))
        .agg(F.sum("c2").alias("c1"))
    )
    model = (
        c2.join(
            F.broadcast(heads),
            F.element_at(F.split("bg", " "), 1) == F.col("w1"),
        )
        .select(
            "bg",
            F.round(
                F.log(
                    (F.col("c2") + F.lit(k))
                    / (F.col("c1") + F.lit(k) * F.lit(float(vsz)))
                ),
                6,
            )
            .cast("decimal(27,6)")
            .alias("lp"),
        )
    )
    return (
        bi.join(model, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lp").alias("_s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            # NO final rounding: the decimal sum makes sum/n the same
            # double in every engine, while round() at an exact .5
            # half-boundary diverges between Spark (binary-expansion
            # HALF_UP) and DuckDB (decimal-string half-away) — observed
            # on a real doc whose mean landed on -3.3637705.
            (F.col("_s").cast("double") / F.col("n_bigrams")).alias(
                "mean_logprob"
            ),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations (multi-word expressions) by pointwise mutual
    information: PMI(w1,w2) = ln(p(w1 w2) / (p(w1)·p(w2))), bigram
    probability over the corpus bigram total, unigram probabilities over
    the token total. The standard phrase-mining signal (word2vec-style
    phrase joining, tokenizer vocab prep); ``min_count`` suppresses the
    PMI bias toward hapax pairs.

    Shuffle economy: one bigram shuffle for pair counts, one token
    shuffle for unigram counts; the unigram frame (vocab-sized) is
    broadcast twice into the pair frame — the corpus stream is never
    joined row-wise. Totals are two scalar aggregates. Final top-k is a
    TakeOrdered, not a global sort. PMI is rounded to 6 dp with ties
    broken on the bigram string, so ranking is deterministic.

    Returns (bigram, pair_count, pmi, rank), rank 1..k.
    """
    toks = docs.select(tokens(text_col).alias("toks"))
    c1 = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()
    )
    n_uni = c1.agg(F.sum("c1")).first()[0]
    c2 = (
        toks.select(F.explode(word_shingles(F.col("toks"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
        .persist()
    )
    n_bg = c2.agg(F.sum("c2")).first()[0]
    a = c1.select(F.col("tok").alias("w1"), F.col("c1").alias("ca"))
    b = c1.select(F.col("tok").alias("w2"), F.col("c1").alias("cb"))
    nu = F.lit(float(n_uni))
    scored = (
        c2.filter(F.col("c2") >= min_count)
        .withColumn("w1", F.element_at(F.split("bg", " "), 1))
        .withColumn("w2", F.element_at(F.split("bg", " "), 2))
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .select(
            F.col("bg").alias("bigram"),
            F.col("c2").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c2") / F.lit(float(n_bg)))
                    / ((F.col("ca") / nu) * (F.col("cb") / nu))
                ),
                6,
            ).alias("pmi"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("pmi"), "bigram")
    # rank via limit-sorted frame: TakeOrdered(k) then a k-row window
    topk = scored.orderBy(F.desc("pmi"), "bigram").limit(k)
    return topk.select(
        "bigram", "pair_count", "pmi", F.row_number().over(w).alias("rank")
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (tf · ln(N/df)) — the classic keyword/topic signal for corpus
    exploration and near-dup triage.

    Shuffle economy: the plan is ONE LINEAR PIPELINE — explicit
    repartition on ``tok``, the per-(tok, doc) term-frequency aggregate,
    and then document frequency as ``count() over (partition by tok)``,
    all reusing the same hash(tok) exchange (no self-join: a groupBy-
    then-join-back form re-plans the exploded corpus twice and ends up
    broadcasting the full vocabulary — measured, not hypothetical).
    Only the final per-doc top-k window re-shuffles, on doc_id: two
    exchanges total, each carrying aggregate-sized rows. Scores are
    rounded to 6 dp before ranking and ties break on the token string,
    so the cut is deterministic.

    Returns (doc_id, token, tfidf, term_rank), term_rank in [1, k].
    """
    from pyspark.sql import Window

    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(tokens(text_col)).alias("tok")
    ).repartition("tok")
    per = toks.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    wt = Window.partitionBy("tok")
    idf = F.round(
        F.log(F.lit(float(n_docs)) / F.count(F.lit(1)).over(wt)), 6
    )
    scored = per.select(
        "doc_id",
        F.col("tok").alias("token"),
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "token", "tfidf", F.col("term_rank").cast("long").alias("term_rank"))
    )


def source_js_divergence(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the corpus-wide distribution — the mixture-QA signal behind
    "did re-weighting source k actually change the token mix" and
    domain-shift detection between corpus snapshots.

    JSD(Pₛ‖P) = ½·KL(Pₛ‖M) + ½·KL(P‖M), M = (Pₛ+P)/2 — symmetric,
    bounded by ln 2, zero iff the source matches the corpus exactly.

    Scale shape: one token shuffle builds the (source, token) counts;
    per-token corpus counts aggregate from those (map-side combinable).
    The KL(P‖M) side needs every corpus token for every source, so the
    grid is |V|·S rows — S (number of sources) is small by definition,
    and the grid join is driven from the aggregated vocabulary, never
    from the raw token stream. The divergence rounds to 6 dp AFTER the
    sum (the proven ln-sum pattern from token_entropy; per-term values
    are ~1e-6 and must not round individually).

    Returns (``group_col``, n_tokens, js_divergence).
    """
    tok = docs.select(
        F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("tok")
    )
    sc = tok.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c_st"))
    vocab = sc.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    totals = sc.groupBy("grp").agg(F.sum("c_st").alias("n_s"))
    n_total = F.lit(
        float(vocab.agg(F.sum("c_t").alias("n")).first()["n"])
    )
    # the full (vocabulary × source) grid, with the source's own count
    # left-joined in (missing → 0). Vocab stays on the LEFT: a cross join
    # builds/broadcasts its right side, and the S-row totals frame is the
    # only side that is small BY CONSTRUCTION at any corpus size.
    grid = (
        vocab.crossJoin(F.broadcast(totals))
        .join(sc, ["grp", "tok"], "left")
        .withColumn("c_st", F.coalesce(F.col("c_st"), F.lit(0)))
    )
    p_s = F.col("c_st") / F.col("n_s")
    p = F.col("c_t") / n_total
    m = (p_s + p) / 2
    term = (
        F.when(F.col("c_st") > 0, 0.5 * p_s * F.log(p_s / m)).otherwise(0.0)
        + 0.5 * p * F.log(p / m)
    )
    return (
        grid.groupBy("grp")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.round(F.sum(term), 6).alias("js_divergence"),
        )
        .select(F.col("grp").alias(group_col), "n_tokens", "js_divergence")
    )


def repetition_metrics_auto(
    docs: DataFrame, q: float = 0.9, text_col: str = "text"
) -> DataFrame:
    """``repetition_metrics`` with DATA-DRIVEN thresholds: keep docs whose
    duplicate-3-gram fraction AND top-2-gram share both sit at or below
    the corpus's own q-quantile, instead of the hand-picked 0.05/0.05
    cutoffs (fixed thresholds rot as the corpus mix changes — the same
    argument as text_length_filter_percentile).

    Two passes: an exact interpolated percentile pair over the per-doc
    metrics (Spark percentile ≡ DuckDB quantile_cont, 6-dp rounded), then
    the flagging scan with scalar bounds. At 100 TB swap pass one to
    approx_percentile and keep the shape; the metrics themselves are
    zero-shuffle per-doc arithmetic either way.
    """
    m = repetition_metrics(docs, text_col).select(
        "doc_id", "dup_3gram_frac", "top_2gram_frac"
    )
    row = m.agg(
        F.round(F.percentile("dup_3gram_frac", F.lit(q)), 6).alias("d3"),
        F.round(F.percentile("top_2gram_frac", F.lit(q)), 6).alias("t2"),
    ).first()
    d3_hi, t2_hi = float(row["d3"]), float(row["t2"])
    return m.select(
        "doc_id",
        "dup_3gram_frac",
        "top_2gram_frac",
        (
            (F.col("dup_3gram_frac") <= d3_hi)
            & (F.col("top_2gram_frac") <= t2_hi)
        ).alias("keep"),
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 ranking of the corpus against a fixed query-term set —
    the keyword-retrieval side of corpus curation (find docs about X,
    audit contamination hits, seed relevance labels).

    Scale shape: ZERO shuffles before the final top-k. Per-doc term
    frequencies and document length are pure column arithmetic over the
    token array (no explode — the query set is a fixed literal list, so
    each term is one `size(filter(...))` expression; lambda bodies touch
    only lambda vars, per the HOF no-CSE rule). The corpus statistics
    (N, Σdl, per-term df) are ONE scalar aggregate broadcast back via a
    1-row cross join, and the top-k is a TakeOrdered, not a global sort.

    Determinism: idf and each term's contribution are rounded to 6 dp
    (ln is computed engine-side, the proven unigram-LM pattern); ties
    break on doc_id. Returns (doc_id, score, rank), rank in [1, k].
    """
    from pyspark.sql import Window

    one_minus_b = 1.0 - b
    base = docs.select("doc_id", tokens(text_col).alias("toks"))
    def _tf(term: str) -> Column:
        # NB: the lambda must take exactly ONE parameter — F.filter treats a
        # two-parameter lambda as (element, index), so the default-arg trick
        # for capturing `term` would bind it to the index column instead.
        return F.size(F.filter(F.col("toks"), lambda t: t == F.lit(term)))

    tf_cols = [_tf(term).alias(f"tf{i}") for i, term in enumerate(query_terms)]
    stats = base.select("doc_id", F.size("toks").alias("dl"), *tf_cols)
    glob = stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    joined = stats.crossJoin(F.broadcast(glob))
    avgdl = F.col("sdl") / F.col("n")
    contribs = []
    for i in range(len(query_terms)):
        idf = F.round(
            F.log(
                (F.col("n") - F.col(f"df{i}") + F.lit(0.5))
                / (F.col(f"df{i}") + F.lit(0.5))
                + F.lit(1.0)
            ),
            6,
        )
        tf = F.col(f"tf{i}")
        denom = tf + F.lit(k1) * (F.lit(one_minus_b) + F.lit(b) * F.col("dl") / avgdl)
        contribs.append(F.round(idf * (tf * F.lit(k1 + 1.0)) / denom, 6))
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    scored = joined.select("doc_id", F.round(total, 6).alias("score"))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    # rank over the k surviving rows only (single tiny partition by then)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(
        "doc_id", "score", F.row_number().over(w).cast("long").alias("rank")
    )


def zipf_fit(docs: DataFrame, top_terms: int = 500, text_col: str = "text") -> DataFrame:
    """Fit the Zipf exponent of the corpus frequency distribution:
    least-squares slope of ln(freq) on ln(rank) over the ``top_terms``
    most frequent tokens — natural-language corpora sit near alpha ~ 1;
    machine-generated or templated text bends the curve, so the exponent
    is a cheap corpus-health signal alongside entropy/JS-divergence.

    Scale shape: the term-frequency aggregate is the usual one token
    shuffle; the fit then runs on a TakeOrdered top-K frame (K rows,
    driver-bounded) — the global rank window only ever sees K rows, the
    vocab-sized frame is never globally sorted. Determinism: ln values
    rounded to 6 dp, summed as exact decimals, slope computed in double
    from those exact sums on both engines.

    Returns one row: (n_terms, zipf_alpha) with alpha > 0 for a falling
    curve (alpha = -slope).
    """
    from pyspark.sql import Window

    tf = (
        docs.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "tok")
        .limit(top_terms)
    )
    w = Window.orderBy(F.desc("freq"), "tok")
    pts = tf.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 6).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(27,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(27,6)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("sxx"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(
            -(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            ),
            6,
        ).alias("zipf_alpha"),
    )


# Fixed, documented logistic weights — a deterministic stand-in for a
# trained quality classifier (fastText/DCLM-style model-based filtering).
# The PLUMBING is the deliverable: swap these for learned weights and the
# plan shape (zero-shuffle column algebra) is unchanged.
QUALITY_LOGIT_WEIGHTS = {
    "bias": -1.0,
    "ttr": 2.0,              # lexical diversity up → quality up
    "stopword_ratio": 1.5,   # natural language has stopwords
    "len_sat": 1.0,          # length, saturating at 200 tokens
    "avg_len_dev": -0.5,     # very long/short tokens → down
}


def quality_logistic(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Model-based quality score: logistic over interpretable features
    with FIXED weights (`QUALITY_LOGIT_WEIGHTS`) — the operator shape of
    classifier-based filtering (DCLM/fastText-style) with a
    deterministic, oracle-checkable stand-in model.

    Features (each 6-dp rounded before the linear form, so the logit is
    bit-stable): type-token ratio, EN stopword ratio, saturating length
    min(n,200)/200, and |avg_token_len - 5|/5. Zero shuffles — pure
    per-doc column algebra, the same cost class as the rule-based
    quality_metrics it upgrades.

    Returns (doc_id, quality_logit, quality_prob, keep).
    """
    toks = tokens(text_col)
    n = F.size(toks)
    w = QUALITY_LOGIT_WEIGHTS
    en = F.array(*[F.lit(x) for x in STOPWORDS["en"]])
    ttr = F.round(F.size(F.array_distinct(toks)) / n, 6)
    stop = F.round(
        F.size(F.filter(toks, lambda t: F.array_contains(en, t))) / n, 6
    )
    len_sat = F.round(F.least(n.cast("double"), F.lit(200.0)) / 200.0, 6)
    avg_len = F.round(
        F.length(F.regexp_replace(normalized_text(text_col), " ", "")) / n, 6
    )
    avg_dev = F.round(F.abs(avg_len - 5.0) / 5.0, 6)
    # EXACT decimal linear form: 6-dp features x 1-dp weights stay
    # exact at scale 7, so no half-way double rounding can diverge from
    # the oracle (observed: 1.5*stop lands on a .5 boundary whenever the
    # feature's 6th digit is odd).
    def dterm(feat, weight):
        return feat.cast("decimal(12,6)") * F.lit(weight).cast("decimal(3,1)")

    logit = (
        F.lit(f'{w["bias"]:.1f}').cast("decimal(3,1)")
        + dterm(ttr, f'{w["ttr"]:.1f}')
        + dterm(stop, f'{w["stopword_ratio"]:.1f}')
        + dterm(len_sat, f'{w["len_sat"]:.1f}')
        + dterm(avg_dev, f'{w["avg_len_dev"]:.1f}')
    ).cast("double")
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return docs.filter(n > 0).select(
        "doc_id",
        logit.alias("quality_logit"),
        prob.alias("quality_prob"),
        (prob >= 0.5).alias("keep"),
    )


def trigram_backoff_logprob(
    docs_model: DataFrame,
    docs_score: DataFrame,
    text_col: str = "text",
    alpha: float = 0.4,
    k: float = 0.5,
) -> DataFrame:
    """Per-doc mean log-score under a TRIGRAM LM with stupid backoff
    (Brants et al. 2007, "Large Language Models in Machine Translation")
    trained on ``docs_model`` and scored on ``docs_score`` — the
    train/holdout split is what makes backoff real: scoring a corpus
    under its own trigram counts never backs off (every observed trigram
    has count ≥ 1).

    S(w3|w1 w2) = c(w1w2w3)/c(w1w2·)          if the trigram was seen
                = α·c(w2w3)/c(w2·)            elif the bigram was seen
                = α²·(c(w3)+k)/(N+k·V)        otherwise (add-k floor so
                                               unseen words stay finite)

    Shuffle economy mirrors :func:`bigram_logprob`: each model count
    table is one hash shuffle over its shingle stream; context counts
    (c12, c2) derive FROM the aggregated count frames, never the raw
    stream; scoring is a chain of hash equi-joins on shingle keys —
    never all-pairs.  Determinism: per-trigram scores round to 6 dp and
    sum as decimal(27,6); the mean ships as the raw double (see the
    half-boundary note on :func:`bigram_logprob`).

    Returns (doc_id, n_trigrams, n_backoff_bigram, n_backoff_unigram,
    mean_logprob); scored docs with < 3 tokens yield no row.
    """
    toks_m = docs_model.select("doc_id", tokens(text_col).alias("toks"))
    toks_s = docs_score.select("doc_id", tokens(text_col).alias("toks"))

    uni = toks_m.select(F.explode("toks").alias("tok"))
    c1 = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    nv = uni.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("tok").alias("v")
    ).first()
    n_total, vsz = float(nv["n"]), float(nv["v"])

    bi_m = toks_m.select(
        F.explode(word_shingles(F.col("toks"), 2)).alias("bg")
    )
    c23 = bi_m.groupBy("bg").agg(F.count(F.lit(1)).alias("c23"))
    c2 = c23.groupBy(
        F.element_at(F.split("bg", " "), 1).alias("w2h")
    ).agg(F.sum("c23").alias("c2"))

    tri_m = toks_m.select(
        F.explode(word_shingles(F.col("toks"), 3)).alias("tg")
    )
    c3 = tri_m.groupBy("tg").agg(F.count(F.lit(1)).alias("c3"))
    c12 = c3.groupBy(
        F.concat_ws(
            " ",
            F.element_at(F.split("tg", " "), 1),
            F.element_at(F.split("tg", " "), 2),
        ).alias("k12")
    ).agg(F.sum("c3").alias("c12"))

    tri_s = toks_s.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), 3)).alias("tg")
    )
    sp = tri_s.select(
        "doc_id",
        "tg",
        F.concat_ws(
            " ",
            F.element_at(F.split("tg", " "), 1),
            F.element_at(F.split("tg", " "), 2),
        ).alias("k12"),
        F.concat_ws(
            " ",
            F.element_at(F.split("tg", " "), 2),
            F.element_at(F.split("tg", " "), 3),
        ).alias("k23"),
        F.element_at(F.split("tg", " "), 2).alias("w2"),
        F.element_at(F.split("tg", " "), 3).alias("w3"),
    )
    j = (
        sp.join(c3, "tg", "left")
        .join(c12, "k12", "left")
        .join(c23.withColumnRenamed("bg", "k23"), "k23", "left")
        .join(c2.withColumnRenamed("w2h", "w2"), "w2", "left")
        .join(c1.withColumnRenamed("tok", "w3"), "w3", "left")
    )
    a2 = alpha * alpha
    lp = (
        F.when(F.col("c3").isNotNull(), F.log(F.col("c3") / F.col("c12")))
        .when(
            F.col("c23").isNotNull(),
            F.log(F.lit(alpha) * F.col("c23") / F.col("c2")),
        )
        .otherwise(
            F.log(
                F.lit(a2)
                * (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k))
                / F.lit(n_total + k * vsz)
            )
        )
    )
    return (
        j.select(
            "doc_id",
            F.round(lp, 6).cast("decimal(27,6)").alias("lp"),
            F.col("c3").isNull().cast("long").alias("_bo"),
            (F.col("c3").isNull() & F.col("c23").isNull())
            .cast("long")
            .alias("_bo2"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            (F.sum("_bo") - F.sum("_bo2")).cast("long").alias(
                "n_backoff_bigram"
            ),
            F.sum("_bo2").cast("long").alias("n_backoff_unigram"),
            F.sum("lp").alias("_s"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_backoff_bigram",
            "n_backoff_unigram",
            (F.col("_s").cast("double") / F.col("n_trigrams")).alias(
                "mean_logprob"
            ),
        )
    )


def lexical_diversity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group lexical-diversity profile: type-token ratio and hapax
    ratio — the cheap corpus-health signals that flag template spam
    (TTR collapses) and OCR noise / boilerplate-free natural text (hapax
    share balloons or collapses).

    One token-explode shuffle builds (group, token) counts; everything
    after runs on the vocabulary-sized frame. Ratios divide exact
    bigints and are 6-dp rounded, so they're partitioning-independent.

    Returns (group, n_tokens, n_types, type_token_ratio, hapax_ratio).
    """
    tok = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    counts = tok.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("grp")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("_hapax"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            F.round(
                F.col("n_types") / F.col("n_tokens").cast("double"), 6
            ).alias("type_token_ratio"),
            F.round(
                F.col("_hapax") / F.col("n_types").cast("double"), 6
            ).alias("hapax_ratio"),
        )
    )
