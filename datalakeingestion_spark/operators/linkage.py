"""Record linkage / entity resolution with blocking.

Structured-entity deduplication (customer/org/address records) is the
other half of a curation pipeline's dedup surface — the document
operators in ``operators/dedup.py`` key on text content; these key on
typed FIELDS with per-field similarity. The scale discipline is
BLOCKING (Fellegi-Sunter practice): never all-pairs — candidates are
generated only WITHIN blocks keyed by cheap deterministic functions of
the record (exact country, name prefix, zip, phonetic code), then each
candidate pair pays the expensive per-field similarity. Cost is
Σ C(|block|, 2), so a flooded block is the same hot-bucket problem LSH
bands have; both entry points take ``max_block``/``salt_target`` to
bound it with the salvage pattern
(``operators/dedup.py::lsh_candidate_pairs_salvaged``): an over-full
block is split into deterministic salt groups of ~``salt_target``
records, pairs are generated within groups, and the groups are chained
through their min-id representatives — linear in block size instead of
quadratic, with a true duplicate flood kept ONE connected component
for downstream cluster resolution.

NULL block keys are a flood in disguise (every key-less record lands
in one giant "block"), so the default policy ``null_blocks="drop"``
excludes records with any NULL block-key column from pairing — the
same semantics as a SQL equi-join. ``null_blocks="match"`` opts into
NULL-as-a-value blocking (eqNullSafe); combine it with ``max_block``
or the NULL block is unbounded.

Similarity here is Levenshtein edit distance — built into both Spark
(`F.levenshtein`, JVM codegen) and DuckDB (`levenshtein`), with
identical unit-cost semantics, so the oracle comparison is exact. The
weighted scorer uses INTEGER field weights (Fellegi-Sunter log-odds,
pre-scaled by the caller) so scores are exact across engines.

Reference pendant: none — greenfield curation operator (SURVEY.md §2
beyond-reference set).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash60

_NULL_POLICIES = ("drop", "match")


@dataclass(frozen=True)
class FieldWeight:
    """One compared field of the weighted (Fellegi-Sunter-style) score.

    ``max_edit=0`` means exact equality; ``max_edit>0`` means agreement
    is ``levenshtein <= max_edit``. ``agree``/``disagree`` are the
    integer weights added to the pair score on field agreement /
    disagreement (classically ``log2(m/u)`` and ``log2((1-m)/(1-u))``
    scaled to integers by the caller — integer arithmetic keeps the
    score exact and engine-portable). A NULL on either side contributes
    0: a missing field carries no evidence either way.
    """

    col: str
    max_edit: int = 0
    agree: int = 1
    disagree: int = -1


def _prepare_blocks(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    null_blocks: str,
    max_block: int | None,
    salt_target: int | None,
) -> tuple[DataFrame, list[str]]:
    """Apply the NULL policy and (when ``max_block`` is set) the hot-
    block salting: returns the records extended with the effective join
    key columns (block cols, plus ``_salt`` for bounded mode) and the
    list of those key column names. Bounded mode also returns records
    tagged with ``_nsalt`` so the caller can build the representative
    chain."""
    if not block_cols:
        raise ValueError("blocking requires at least one block column")
    if null_blocks not in _NULL_POLICIES:
        raise ValueError(f"null_blocks must be one of {_NULL_POLICIES}")
    if null_blocks == "drop":
        for c in block_cols:
            df = df.filter(F.col(c).isNotNull())
    keys = list(block_cols)
    if max_block is None:
        if salt_target is not None:
            # silently ignoring it would leave the caller believing the
            # flood bound is active while the unbounded quadratic runs
            raise ValueError("salt_target requires max_block")
        return df, keys
    if max_block < 2:
        raise ValueError("max_block must be >= 2")
    reserved = {"_bsz", "_nsalt", "_salt", "_rep", "_prev", "_id_a", "_id_b"}
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"input already has reserved column(s) {sorted(clash)}"
        )
    st = int(salt_target or max_block)
    if st < 2:
        raise ValueError("salt_target must be >= 2")
    # block sizes via groupBy + BROADCAST join, NOT a window: the block
    # table is metadata-sized by the blocking design contract (that is
    # what makes blocking work at all), and a window over the records
    # feeds the downstream self-join a sorted/windowed subtree that
    # measured 5.5x slower end-to-end at the 8k-flood probe
    # (tools/scale_probe_r9.py @ 7106773) than this scan-shaped form.
    sizes = df.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_bsz"))
    if null_blocks == "match":
        # NULL block keys are legal groups under "match": the sizes join
        # must be null-safe or NULL-keyed records lose their size row
        cond = None
        for c in block_cols:
            eq = F.col(f"r.{c}").eqNullSafe(F.col(f"s.{c}"))
            cond = eq if cond is None else cond & eq
        sized = (
            df.alias("r")
            .join(F.broadcast(sizes.alias("s")), cond)
            .select("r.*", "s._bsz")
        )
    else:
        sized = df.join(F.broadcast(sizes), list(block_cols))
    # cold blocks: one salt group (salt 0). Hot blocks: integer-ceil
    # group count, md5-portable split by id — deterministic and
    # ANSI-replicable (same arithmetic as the LSH salvage).
    salted = (
        sized.withColumn(
            "_nsalt",
            F.when(F.col("_bsz") <= max_block, F.lit(1)).otherwise(
                F.expr(f"(_bsz + {st} - 1) div {st}")
            ),
        )
        .withColumn(
            "_salt",
            F.when(F.col("_nsalt") == 1, F.lit(0)).otherwise(
                F.pmod(
                    portable_hash60(F.col(id_col).cast("string")),
                    F.col("_nsalt"),
                )
            ),
        )
        .drop("_bsz")
    )
    return salted, keys + ["_salt"]


def _pair_condition(
    id_col: str,
    block_cols: Sequence[str],
    keys: Sequence[str],
    null_blocks: str,
) -> Column:
    # membership in block_cols (not a name heuristic) decides which keys
    # get eqNullSafe under null_blocks="match" — a user block column that
    # happens to start with "_" must keep NULL-as-a-value semantics; the
    # internal _salt key is never NULL so plain == is exact for it
    block_set = set(block_cols)
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in keys:
        if null_blocks == "match" and c in block_set:
            cond = cond & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        else:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return cond


def _chain_pairs(
    prepared: DataFrame, id_col: str, block_cols: Sequence[str]
) -> DataFrame:
    """Min-id representative per (block, salt), consecutive reps paired
    — ≤ s/salt_target rows per block, so the per-block window is
    metadata-sized even for a monster flood. Keeps a salted flood one
    connected component (pairs still pass the caller's similarity gate
    individually, so unrelated records sharing a block chain only where
    they genuinely match)."""
    from pyspark.sql.window import Window

    reps = (
        prepared.filter(F.col("_nsalt") > 1)
        .groupBy(*block_cols, "_salt")
        .agg(F.min(id_col).alias("_rep"))
    )
    rw = Window.partitionBy(*block_cols).orderBy("_salt")
    return (
        reps.withColumn("_prev", F.lag("_rep").over(rw))
        .filter(F.col("_prev").isNotNull())
        .select(
            *block_cols,
            F.least("_prev", "_rep").alias("_id_a"),
            F.greatest("_prev", "_rep").alias("_id_b"),
        )
    )


def _candidate_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    payload_cols: Sequence[str],
    null_blocks: str,
    max_block: int | None,
    salt_target: int | None,
) -> DataFrame:
    """Candidate pairs within (possibly salted) blocks, carrying both
    sides' payload columns as ``a_{col}`` / ``b_{col}`` plus the block
    values. One shuffle on the block key; the join is an ordinary equi
    hash join AQE can skew-split."""
    prepared, keys = _prepare_blocks(
        df, id_col, block_cols, null_blocks, max_block, salt_target
    )
    cols = [id_col, *dict.fromkeys([*block_cols, *payload_cols])]
    internal = [k for k in keys if k not in block_cols]  # the salt key
    slim = prepared.select(*cols, *internal)
    a, b = slim.alias("a"), slim.alias("b")
    pairs = a.join(
        b, _pair_condition(id_col, block_cols, keys, null_blocks)
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{c}").alias(c) for c in block_cols],
        *[F.col(f"a.{c}").alias(f"a_{c}") for c in payload_cols],
        *[F.col(f"b.{c}").alias(f"b_{c}") for c in payload_cols],
    )
    if max_block is None:
        return pairs
    chain = _chain_pairs(prepared, id_col, block_cols)
    ca = slim.select(
        F.col(id_col).alias("_id_a"),
        *[F.col(c).alias(f"a_{c}") for c in payload_cols],
    )
    cb = slim.select(
        F.col(id_col).alias("_id_b"),
        *[F.col(c).alias(f"b_{c}") for c in payload_cols],
    )
    chain_full = (
        chain.join(ca, "_id_a")
        .join(cb, "_id_b")
        .select(
            F.col("_id_a").alias("id_a"),
            F.col("_id_b").alias("id_b"),
            *block_cols,
            *[f"a_{c}" for c in payload_cols],
            *[f"b_{c}" for c in payload_cols],
        )
    )
    # NO distinct on the union: the pair sets are disjoint BY
    # CONSTRUCTION — within-group pairs share a salt group, chain pairs
    # connect the min-ids of two DIFFERENT salt groups (and cold blocks
    # never produce chain pairs at all). A distinct here would shuffle
    # every candidate pair with both payloads a second time — measured
    # 3x the whole unbounded path's cost at the 8k-record flood probe
    # (tools/scale_probe_r9.py @ 7106773) before it was removed.
    return pairs.unionByName(chain_full)


def blocked_similarity_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    string_col: str,
    max_edit: int = 2,
    max_block: int | None = None,
    salt_target: int | None = None,
    null_blocks: str = "drop",
) -> DataFrame:
    """Entity-resolution candidate pairs: records sharing every
    ``block_cols`` value, paired within the block (id_a < id_b), kept
    when ``levenshtein(string_col)`` ≤ ``max_edit``.

    ``max_block`` bounds a flooded block's cost: blocks larger than it
    are salted into ~``salt_target``-record groups (pairs within groups
    + a min-id representative chain) — linear in block size instead of
    C(s, 2), with a true-duplicate flood kept one connected component.
    ``null_blocks`` (default ``"drop"``) excludes NULL-keyed records;
    ``"match"`` blocks them together (flood risk — pair with
    ``max_block``). The Levenshtein gate runs in codegen on the joined
    pairs. Returns (id_a, id_b, edit_dist, block values).
    """
    if max_edit < 0:
        raise ValueError("max_edit must be >= 0")
    pairs = _candidate_pairs(
        df, id_col, block_cols, [string_col],
        null_blocks, max_block, salt_target,
    )
    dist = F.levenshtein(F.col(f"a_{string_col}"), F.col(f"b_{string_col}"))
    return (
        pairs.withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") <= max_edit)
        .select("id_a", "id_b", "edit_dist", *block_cols)
    )


def weighted_linkage_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    fields: Sequence[FieldWeight],
    min_score: int,
    max_block: int | None = None,
    salt_target: int | None = None,
    null_blocks: str = "drop",
) -> DataFrame:
    """Fellegi-Sunter-style weighted record linkage: candidate pairs
    within (multi-column) blocks, scored by summing integer per-field
    agreement/disagreement weights, kept at ``score >= min_score``.

    Each :class:`FieldWeight` contributes ``agree`` when the field
    matches (exact for ``max_edit=0``, else ``levenshtein <= max_edit``),
    ``disagree`` when it doesn't, and 0 when either side is NULL
    (missing data is no evidence). Integer weights keep the score exact
    — the DuckDB oracle computes the identical CASE sum. Blocking,
    ``max_block`` salting and the NULL policy are shared with
    :func:`blocked_similarity_pairs`. Returns
    (id_a, id_b, score, block values).
    """
    if not fields:
        raise ValueError("weighted linkage requires at least one field")
    pairs = _candidate_pairs(
        df, id_col, block_cols, [f.col for f in fields],
        null_blocks, max_block, salt_target,
    )
    return (
        pairs.withColumn("score", _weighted_score(fields))
        .filter(F.col("score") >= min_score)
        .select("id_a", "id_b", "score", *block_cols)
    )


def golden_records(
    df: DataFrame,
    cluster_col: str,
    name_col: str,
    max_cols: tuple[str, ...] = (),
    min_cols: tuple[str, ...] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """Survivorship: collapse each resolved entity cluster into ONE
    golden record — the master-data step after pairs → clusters.

    Deterministic rules (engine-portable, no arg_max tie ambiguity):
    ``golden_<name_col>`` = the lexicographically smallest among the
    LONGEST names (longest ≈ most complete, the standard completeness
    heuristic); ``max_cols`` survive as their MAX, ``min_cols`` as their
    MIN; plus ``n_members``. One row per cluster.

    ``weight_col`` lets a member row stand for several records —
    :func:`resolve_increment` folds an EXISTING golden record (weight =
    its ``n_members``) together with fresh batch rows (weight 1), so
    ``n_members`` stays the true record count across increments. With
    ``weight_col=None`` every row counts once.

    Scale shape: two grouped aggregates + one join, all keyed on the
    cluster id (entity-sized frames, never record²).
    """
    reserved = {"__maxlen", "n_members", f"golden_{name_col}"}
    clash = sorted(reserved & set(df.columns)) + sorted(
        reserved & (set(max_cols) | set(min_cols))
    )
    if clash:
        raise ValueError(
            f"golden_records reserves column names {sorted(reserved)}; "
            f"colliding: {clash} — rename before calling"
        )
    n_members = (
        F.sum(weight_col).cast("long")
        if weight_col is not None
        else F.count(F.lit(1))
    )
    aggs = [
        n_members.alias("n_members"),
        F.max(F.length(name_col)).alias("__maxlen"),
    ]
    aggs += [F.max(c).alias(c) for c in max_cols]
    aggs += [F.min(c).alias(c) for c in min_cols]
    agg1 = df.groupBy(cluster_col).agg(*aggs)
    gold = (
        df.select(cluster_col, name_col)
        .join(agg1.select(cluster_col, "__maxlen"), cluster_col)
        .filter(F.length(name_col) == F.col("__maxlen"))
        .groupBy(cluster_col)
        .agg(F.min(name_col).alias(f"golden_{name_col}"))
    )
    # LEFT join: a cluster whose every name is NULL has no longest-name
    # row — it must survive with a NULL golden name, not silently vanish
    # from the entity table
    return agg1.drop("__maxlen").join(gold, cluster_col, "left")


def _weighted_score(fields: Sequence[FieldWeight]) -> Column:
    """The shared per-pair score over a_/b_-prefixed field columns —
    weighted_linkage_pairs (self-join) and match_against (two-frame)
    MUST score identically, so the term logic lives once."""
    score: Column = F.lit(0)
    for fld in fields:
        an, bn = F.col(f"a_{fld.col}"), F.col(f"b_{fld.col}")
        if fld.max_edit > 0:
            agree = F.levenshtein(an, bn) <= fld.max_edit
        else:
            agree = an == bn
        score = score + (
            F.when(an.isNull() | bn.isNull(), F.lit(0))
            .when(agree, F.lit(fld.agree))
            .otherwise(F.lit(fld.disagree))
        )
    return score


def match_against(
    batch: DataFrame,
    reference: DataFrame,
    batch_id: str,
    ref_id: str,
    block_cols: Sequence[str],
    fields: Sequence[FieldWeight],
    min_score: int,
) -> DataFrame:
    """Two-frame weighted linkage — the INCREMENTAL entity-resolution
    step: score an incoming batch against an existing reference (e.g.
    the golden-record table) inside shared blocks, instead of
    re-clustering the whole lake per batch.

    Same field semantics as :func:`weighted_linkage_pairs` (shared
    ``_weighted_score``). Records whose block key is NULL on either
    side never pair (equi-join semantics) — they surface as unmatched,
    which the caller should mint as new entities.

    Scale shape: per batch the reference is entity-sized and the join
    is a block-keyed equi-join — O(batch × entities-per-block), never
    lake-sized; the reference side is broadcastable when the entity
    table fits. Returns (id_a, id_b, score, block values).
    """
    if not fields:
        raise ValueError("weighted linkage requires at least one field")
    if not block_cols:
        raise ValueError("blocking requires at least one block column")
    a = batch.select(
        F.col(batch_id).alias("id_a"),
        *[F.col(c) for c in block_cols],
        *[F.col(f.col).alias(f"a_{f.col}") for f in fields],
    )
    b = reference.select(
        F.col(ref_id).alias("id_b"),
        *[F.col(c) for c in block_cols],
        *[F.col(f.col).alias(f"b_{f.col}") for f in fields],
    )
    return (
        a.join(b, list(block_cols))
        .withColumn("score", _weighted_score(fields))
        .filter(F.col("score") >= min_score)
        .select("id_a", "id_b", "score", *block_cols)
    )


def resolve_increment(
    batch: DataFrame,
    golden: DataFrame,
    crosswalk: DataFrame,
    record_id: str,
    entity_col: str,
    block_cols: Sequence[str],
    fields: Sequence[FieldWeight],
    min_score: int,
    name_col: str,
    max_cols: tuple[str, ...] = (),
    min_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """The MERGE step between :func:`match_against` and the next batch —
    the latest-zone upsert generalized to entities (reference pendant:
    ``start_ingestion.py:361-374``'s latest-zone MERGE semantics).

    Given an incoming ``batch``, the current ``golden`` table and the
    ``crosswalk`` (record_id → entity id for every record ever folded),
    produce the NEW golden table and crosswalk:

    1. **Replay guard**: batch records whose id is already in the
       crosswalk drop out (anti-join) — re-delivering a batch is a
       no-op, which is what makes the step idempotent.
    2. **Match**: the fresh records score against the entity-sized
       golden table inside shared blocks (:func:`match_against`); each
       takes its best match (score desc, entity id asc) at
       ``min_score``.
    3. **Mint**: unmatched records get new entity ids —
       ``max(existing entity id) + dense_rank(record id)`` —
       deterministic and collision-free. Records that should merge
       with EACH OTHER (within-batch duplicates) are the caller's
       pre-step: resolve the batch internally first
       (:func:`weighted_linkage_pairs` + connected components +
       :func:`golden_records`) if batches can self-duplicate.
    4. **Fold**: survivorship re-applies per touched entity over the
       existing golden record (weighted by its ``n_members``) plus the
       newly assigned rows — untouched entities pass through unchanged
       (same aggregate, their group has one weighted row).

    ``golden`` must carry ``entity_col``, ``name_col``, ``max_cols``,
    ``min_cols``, ``n_members`` and the ``block_cols``/field columns
    (present the golden name under ``name_col`` — rename before the
    call, as the output does for the next increment). ``crosswalk``
    carries (``record_id``, ``entity_col``). Entity ids must be
    numeric for minting.

    Scale shape: anti-join + block-keyed equi-join are batch×entity
    sized; the dense_rank window is a single-partition sort of the
    UNMATCHED slice only — bounded by the increment, never the lake;
    the survivorship fold keys on the entity id.

    Returns ``(golden', crosswalk')``.
    """
    from pyspark.sql import Window

    if "n_members" not in golden.columns:
        raise ValueError(
            "golden must carry n_members (use golden_records to build it)"
        )
    if "__w" in golden.columns or "__w" in batch.columns:
        raise ValueError("resolve_increment reserves column name __w")

    # r12: fresh feeds THREE consumers (the blocked match, the
    # unmatched anti-join, the member fold) and matched/assignments two
    # each — left lazy, every reference re-expanded the batch×golden
    # match subtree (159 Exchange references in the r12 plan audit).
    # Batch-sized frames; persist so each pass over the lineage runs
    # once. Results unchanged.
    fresh = batch.join(
        crosswalk.select(F.col(record_id)).distinct(), record_id, "left_anti"
    ).persist()
    cand = match_against(
        fresh, golden, record_id, entity_col, block_cols, fields, min_score
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("score"), F.asc("id_b"))
    matched = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id_a").alias(record_id),
            F.col("id_b").cast("long").alias(entity_col),
        )
        .persist()
    )
    unmatched = fresh.select(record_id).distinct().join(
        matched.select(record_id), record_id, "left_anti"
    )
    base = golden.agg(
        F.coalesce(F.max(entity_col), F.lit(0)).cast("long").alias("__base")
    )
    # 1-row broadcast scalar (audited: never a data-sized cartesian)
    minted = (
        unmatched.withColumn(
            "__rk", F.dense_rank().over(Window.orderBy(record_id))
        )
        .join(F.broadcast(base))
        .select(
            record_id,
            (F.col("__base") + F.col("__rk")).cast("long").alias(entity_col),
        )
    )
    assignments = matched.unionByName(minted).persist()

    keep = [name_col, *max_cols, *min_cols]
    new_members = fresh.join(assignments, record_id).select(
        entity_col, *keep, F.lit(1).alias("__w")
    )
    old_members = golden.select(
        entity_col, *keep, F.col("n_members").alias("__w")
    )
    golden2 = golden_records(
        old_members.unionByName(new_members),
        entity_col,
        name_col,
        max_cols=max_cols,
        min_cols=min_cols,
        weight_col="__w",
    )
    crosswalk2 = crosswalk.select(record_id, entity_col).unionByName(
        assignments
    )
    return golden2, crosswalk2
