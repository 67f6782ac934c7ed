"""Training-data shard delivery: the last step before a trainer consumes
the corpus.

``pack_sequences`` (operators/packing.py) turns documents into
token-budgeted sequences; this module turns sequences into SIZE-BOUNDED
OUTPUT SHARDS with a deterministic manifest — the K1 "persist what you
ingested" pendant for the LLM path (reference K1 stops at a parquet
append, extractors/ingest_mysql_data.py:525-542; a training pipeline
additionally needs bounded shard files plus a manifest the trainer and
the re-run contract can both trust).

Design for 100 TB:

- Shard assignment is a SECOND-LEVEL distributed prefix sum: per-sequence
  token totals, range-partitioned cumulative sum in seq order, ``shard_id
  = cum_before div shard_token_budget`` — the same two-pass
  ``keyed_prefix_sum`` machinery as packing itself (never a
  single-partition global window). Sequences stay whole inside a shard
  (shard-with-overflow, mirroring pack-with-overflow), so shard token
  totals land in [budget, budget + max_sequence) except the tail.
- The manifest digest is ENGINE-PORTABLE: per-row fingerprint
  ``md5(doc_id:n_tokens:seq_id)``, shard digest ``md5`` of the
  fingerprints sorted and concatenated — DuckDB computes the identical
  value with ``md5(string_agg(fp, '' ORDER BY fp))``, so the manifest is
  an oracle-checkable contract, not a Spark-private checksum. The
  ``collect_list`` inside the digest is bounded by docs-per-shard (every
  non-tail shard holds < budget + max_seq tokens; only a flood of
  zero-token documents could grow a shard without bound — size the
  budget accordingly or drop empty docs upstream).
- The writer is INCREMENTAL and IDEMPOTENT: it diffs the computed
  manifest against the stored one and rewrites ONLY shards whose digest
  changed (dynamic partition overwrite — untouched shard directories are
  not rewritten). A re-run over identical input rewrites nothing and the
  manifest is byte-identical. The digest diff is a driver-side list of
  shard ids — bounded, a manifest is metadata-scale by construction
  (100 TB at ~1 GB shards ≈ 1e5 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..utils import arrow_rows, write_driver_parquet
from .packing import keyed_prefix_sum, pack_sequences

MANIFEST_DIR = "_manifest"


def _write_manifest_rows(spark, rows, schema, dest_dir: str) -> None:
    """Publish collected manifest rows as the manifest parquet from the
    DRIVER — no Spark job. A manifest is manifest-scale by contract
    (one row per shard, already .collect()ed by every writer for the
    digest diff), so routing it back through createDataFrame + a
    one-task overwrite write paid a full job of scheduler/committer
    floor per delivery (the execution-log finding, utils.
    write_driver_parquet). Readers are untouched: spark.read.parquet
    sees one snappy file with the manifest's column types, built by
    ``utils.arrow_rows`` from the manifest's own schema."""
    write_driver_parquet(
        spark, arrow_rows(rows, schema), dest_dir, overwrite=True
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — existence checks and the
    vacuum delete must go through Hadoop's FS abstraction, not the local
    filesystem: with an object-store path (s3a://...) a local
    Path.exists() is always False, which would silently turn every
    re-run into a full rewrite and make the vacuum a no-op."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def assign_shards(
    packed: DataFrame,
    shard_token_budget: int,
    seq_col: str = "seq_id",
    tokens_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``shard_id`` to a packed frame (the output shape of
    ``pack_sequences``: one row per document with ``seq_col`` and
    ``tokens_col``).

    Sequences are assigned to shards in ``seq_col`` order by the
    exclusive prefix sum of their token totals: a sequence whose tail
    crosses the budget stays whole in its shard. Deterministic for a
    given input; sequence-level, so all rows of a sequence always share
    a shard. NULL ``tokens_col`` counts as 0 (``pack_sequences`` already
    coalesces, but ``packed`` may come from elsewhere); ``seq_col`` must
    be non-NULL — ``pack_sequences`` guarantees it, and a NULL seq key
    would silently miss the inner equi-join below and drop the row.
    """
    if shard_token_budget <= 0:
        raise ValueError("shard_token_budget must be positive")
    seq_totals = packed.groupBy(seq_col).agg(
        F.coalesce(F.sum(F.col(tokens_col)).cast("long"), F.lit(0).cast("long"))
        .alias("_seq_tokens")
    )
    cum = keyed_prefix_sum(
        seq_totals.withColumn("_k", F.lit(1)),
        ["_k"],
        [seq_col],
        "_seq_tokens",
        out_col="_cum",
        num_partitions=num_partitions,
    )
    shard_of_seq = cum.select(
        seq_col,
        F.expr(f"(_cum - _seq_tokens) div {shard_token_budget}").alias(
            "shard_id"
        ),
    )
    # seq->shard frame is 1/|avg seq| the size of the doc frame; the
    # equi-join on seq_col is the only shuffle added on the doc side
    # (AQE broadcasts it when small).
    return packed.join(shard_of_seq, seq_col)


def assign_shards_aligned(
    packed: DataFrame,
    shard_token_budget: int,
    seq_token_budget: int,
    seq_col: str = "seq_id",
    tokens_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """``assign_shards`` for the aligned common case — ``packed`` is
    the UNFILTERED output of ``pack_sequences(..., token_budget=
    seq_token_budget)`` and ``shard_token_budget`` is a multiple of
    it. Then ``shard_id = seq_id div (shard_token_budget div
    seq_token_budget)`` EXACTLY, and the whole second-level prefix sum
    (per-seq aggregate, range shuffle, offsets collect, equi-join back
    onto the doc frame — 3 Exchanges + a join in the physical plan)
    collapses to a zero-shuffle projection (r12, guide §2.4: remove
    shuffles outright).

    Proof. ``pack_sequences`` assigns ``seq_id = b div S`` where ``b``
    is the doc's exclusive token prefix in the pack order and ``S`` the
    sequence budget; ``assign_shards`` assigns ``shard_id = c div H``
    where ``c`` is the exclusive prefix of per-sequence token totals in
    ``seq_id`` order. Sequence totals are sums of doc tokens in that
    same global order, so ``c`` of sequence ``s`` equals the exclusive
    prefix ``b`` of the FIRST doc of ``s``, and that ``b`` lies in
    ``[S*s, S*(s+1))`` by definition of ``seq_id``. With ``H = m*S``,
    every multiple of ``H`` is a multiple of ``S``, and the half-open
    interval contains a multiple of ``S`` only at its left edge — so
    ``b div H`` is constant on the interval and equals ``(S*s) div H
    = s div m``, for every sequence including those after empty seq-id
    gaps left by documents larger than ``S``.

    The identity needs (a) ``H % S == 0`` — otherwise a shard boundary
    can fall strictly inside the interval (falls back to the general
    ``assign_shards``) — and (b) ``packed`` passed through unmodified:
    dropping rows between pack and assign changes the sequence totals
    the general operator would see (caller's contract; every in-repo
    composition passes the pack output straight through). Column order,
    dtypes and the drop-NULL-``seq_col`` semantics match the general
    operator exactly; equality is property-tested against it in
    tests/test_shards.py across budgets, orders and zero/NULL tokens.
    """
    if shard_token_budget <= 0:
        raise ValueError("shard_token_budget must be positive")
    if seq_token_budget <= 0:
        raise ValueError("seq_token_budget must be positive")
    if shard_token_budget % seq_token_budget:
        return assign_shards(
            packed,
            shard_token_budget,
            seq_col=seq_col,
            tokens_col=tokens_col,
            num_partitions=num_partitions,
        )
    ratio = shard_token_budget // seq_token_budget
    others = [c for c in packed.columns if c != seq_col]
    # same shape as the general operator's inner join: seq_col fronted,
    # NULL-seq rows dropped (pack_sequences never emits them; a foreign
    # frame with NULL seq keys must behave identically on both paths)
    return packed.where(F.col(seq_col).isNotNull()).select(
        seq_col,
        *others,
        F.expr(f"`{seq_col}` div {ratio}").alias("shard_id"),
    )


def shard_manifest(
    sharded: DataFrame,
    shard_col: str = "shard_id",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    seq_col: str = "seq_id",
) -> DataFrame:
    """Per-shard manifest: (shard_id, n_docs, n_seqs, n_tokens, digest).

    ``digest`` commits to the exact row SET of the shard — ids, token
    counts, and sequence assignment — via md5 over the sorted per-row
    md5 fingerprints, an order-insensitive, engine-portable content
    checksum (DuckDB twin: ``md5(string_agg(fp, '' ORDER BY fp))``).
    """
    fp = F.md5(
        F.concat_ws(
            ":",
            F.col(id_col).cast("string"),
            F.col(tokens_col).cast("string"),
            F.col(seq_col).cast("string"),
        )
    )
    return (
        sharded.withColumn("_fp", fp)
        .groupBy(shard_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.col(seq_col)).alias("n_seqs"),
            F.sum(F.col(tokens_col)).cast("long").alias("n_tokens"),
            F.md5(
                F.concat_ws("", F.array_sort(F.collect_list("_fp")))
            ).alias("digest"),
        )
    )


def read_shard_manifest(spark: SparkSession, path: str) -> DataFrame | None:
    """The stored manifest, or None before the first delivery."""
    fs, mpath = _hadoop_fs(spark, f"{path}/{MANIFEST_DIR}")
    if not fs.exists(mpath):
        return None
    return spark.read.parquet(f"{path}/{MANIFEST_DIR}")


def resume_table(
    man: DataFrame,
    tokens_col: str = "n_tokens",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Mid-epoch resume accounting over ANY delivery manifest: appends
    exact ``tokens_before`` / ``tokens_remaining`` and integer-ppm
    ``progress_ppm`` to each manifest row in consumption order — the
    row a restarting trainer reads to know exactly what remains
    without re-listing or re-reading the tree.

    Works on the batch manifest (default ``shard_id`` order) and on a
    streaming snapshot's manifest (pass
    ``order_cols=["epoch", "shard_id"]`` — the order
    ``shard_delivery_stream`` epochs are consumed in). The prefix sum
    runs through ``keyed_prefix_sum`` (no single-partition window even
    at metadata scale); the grand total is a 1-row broadcast. The ppm
    multiply is done in decimal(38,0): cumulative token counts at the
    advertised 100 TB scale (~2.5e13) overflow a BIGINT×1e6.
    """
    order_cols = list(order_cols or ["shard_id"])
    reserved = {"_k", "_cum", "_total",
                "tokens_before", "tokens_remaining", "progress_ppm"}
    clash = reserved & set(man.columns)
    if clash:
        raise ValueError(f"manifest already has reserved columns {clash}")
    cum = keyed_prefix_sum(
        man.withColumn("_k", F.lit(1)),
        ["_k"],
        order_cols,
        tokens_col,
        out_col="_cum",
    )
    total = man.agg(F.sum(tokens_col).cast("long").alias("_total"))
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn(
            "tokens_before",
            (F.col("_cum") - F.col(tokens_col)).cast("long"),
        )
        .withColumn(
            "tokens_remaining",
            (F.col("_total") - F.col("_cum")).cast("long"),
        )
        .withColumn(
            "progress_ppm",
            F.expr(
                f"cast(cast(_cum - {tokens_col} as decimal(38,0)) "
                f"* 1000000 div greatest(_total, 1) as bigint)"
            ),
        )
        .drop("_k", "_cum", "_total")
    )


class ShardIntegrityError(RuntimeError):
    """A delivered shard's content no longer matches its manifest."""


def read_training_shards(
    spark: SparkSession,
    path: str,
    shards: list[int] | None = None,
    verify: bool = True,
    shard_col: str = "shard_id",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    seq_col: str = "seq_id",
) -> DataFrame:
    """Manifest-driven consumption of a delivery — the read half of the
    contract: the MANIFEST (not the directory listing) decides what
    exists, and with ``verify=True`` every shard read is re-digested
    and compared against it, so a corrupted, partially-written or
    hand-edited shard fails LOUDLY here instead of silently training on
    wrong data.

    ``shards`` restricts the read (partition pruning serves exactly the
    requested shard directories — orphan directories OUTSIDE the
    requested set go unchecked on restricted reads); shard ids absent
    from the manifest raise. An unrestricted ``verify=True`` read
    digests the WHOLE tree, so a directory the manifest never committed
    (a crashed write, a foreign drop-in) fails loudly as an orphan, and
    even ``verify=False`` never serves it (the returned frame is
    manifest-restricted via a broadcast semi-join — skip verification
    only when the storage layer already guarantees integrity
    end-to-end, never to see uncommitted shards).
    """
    manifest = read_shard_manifest(spark, path)
    if manifest is None:
        raise ShardIntegrityError(f"no manifest at {path}")
    data_all = spark.read.parquet(f"{path}/data")
    if shards is not None:
        known = {
            r[shard_col] for r in manifest.select(shard_col).collect()
        }  # manifest-scale ids only
        missing = sorted(set(shards) - known)
        if missing:
            raise ShardIntegrityError(
                f"shards {missing} are not in the manifest at {path}"
            )
        wanted = sorted(set(shards))
        manifest = manifest.filter(F.col(shard_col).isin(wanted))
        data = data_all.filter(F.col(shard_col).isin(wanted))
        digest_src = data
    else:
        # manifest is the source of truth: a broadcast semi-join (not a
        # giant isin literal) hides uncommitted directories from the
        # returned frame; verification still digests the WHOLE tree so
        # orphans fail loudly rather than rot silently
        data = data_all.join(
            F.broadcast(manifest.select(shard_col)), shard_col, "left_semi"
        )
        digest_src = data_all
    if verify:
        actual = shard_manifest(
            digest_src, shard_col, id_col, tokens_col, seq_col
        )
        bad = (
            manifest.alias("m")
            .join(actual.alias("a"), shard_col, "full_outer")
            .filter(
                F.col("m.digest").isNull()
                | F.col("a.digest").isNull()
                | (F.col("m.digest") != F.col("a.digest"))
            )
            .select(shard_col)
            .collect()  # bounded: manifest-scale
        )
        if bad:
            raise ShardIntegrityError(
                f"digest mismatch for shards "
                f"{sorted(r[shard_col] for r in bad)} at {path} — "
                f"delivery is corrupt or was modified outside the writer"
            )
    return data


def write_training_shards(
    sharded: DataFrame,
    path: str,
    shard_col: str = "shard_id",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    seq_col: str = "seq_id",
) -> dict:
    """Deliver ``sharded`` (a frame carrying ``shard_col``, e.g. the
    output of ``assign_shards``) to ``path`` as one parquet directory
    per shard plus a manifest, incrementally and idempotently:

    - shards whose manifest digest matches the stored manifest are
      SKIPPED (their directories are not rewritten — a re-run over
      identical input writes nothing);
    - changed/new shards are rewritten atomically per partition
      (dynamic partition overwrite);
    - shards present in the stored manifest but absent from the new
      assignment (corpus shrank) are vacuumed, so the directory tree
      always equals the manifest exactly;
    - the manifest at ``{path}/_manifest`` is rewritten last and is the
      single source of truth a trainer reads (never the directory
      listing).

    Returns ``{"written": [...], "skipped": [...], "vacuumed": [...]}``
    (sorted shard-id lists; driver-side but manifest-scale, see module
    docstring).
    """
    spark = sharded.sparkSession
    # Materialize before double-consumption: the frame feeds BOTH the
    # collected manifest and the data write below — without the pin, a
    # nondeterministic upstream or a stage retry could commit data whose
    # content diverges from the digests just written, after which every
    # verify=True read fails (same reason streaming deliver()/
    # compact_delivery checkpoint before their dual consumption).
    sharded = sharded.localCheckpoint()
    manifest = shard_manifest(
        sharded, shard_col, id_col, tokens_col, seq_col
    )
    old = read_shard_manifest(spark, path)
    if old is None:
        old_digests: dict[int, str] = {}
    else:
        old_digests = {
            r[shard_col]: r["digest"]
            for r in old.select(shard_col, "digest").collect()
        }
    new_rows = manifest.collect()
    new_digests = {r[shard_col]: r["digest"] for r in new_rows}
    written = sorted(
        s for s, d in new_digests.items() if old_digests.get(s) != d
    )
    written_set = set(written)
    skipped = sorted(s for s in new_digests if s not in written_set)
    vacuumed = sorted(s for s in old_digests if s not in new_digests)

    if written:
        (
            sharded.filter(F.col(shard_col).isin(written))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(shard_col)
            .parquet(f"{path}/data")
        )
    for s in vacuumed:
        fs, p = _hadoop_fs(spark, f"{path}/data/{shard_col}={s}")
        if fs.exists(p):
            fs.delete(p, True)
    if written or vacuumed or old is None:
        _write_manifest_rows(
            spark, new_rows, manifest.schema, f"{path}/{MANIFEST_DIR}"
        )
    return {"written": written, "skipped": skipped, "vacuumed": vacuumed}


RESERVED_DELIVERY_COLS = ("seq_id", "shard_id", "epoch")


def pack_assign_with_payload(
    frame: DataFrame,
    seq_token_budget: int,
    shard_token_budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """(id, tokens, *payload) -> the same rows with ``seq_id`` and
    ``shard_id`` added, payload columns CARRIED THROUGH: pack/assign
    project down to the id/token pair internally, so delivered shards
    would otherwise hold only bookkeeping columns and a trainer would
    need a separate join back to the corpus. Shared by the batch quota
    writer and the streaming delivery/compaction paths so the
    carry-through semantics exist once.

    ``id_col`` must be UNIQUE in ``frame`` — the payload join-back is an
    equi-join on it, and a duplicated id would multiply rows (checked up
    front against the reserved bookkeeping names; uniqueness itself is
    pack_sequences' documented contract). ``order_cols`` overrides the
    pack order (default: id order) — callers whose unique key is a
    synthetic string (e.g. compaction's doc#epoch) pass the natural
    numeric order here."""
    clash = [c for c in frame.columns if c in RESERVED_DELIVERY_COLS]
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with delivery "
            f"bookkeeping columns; rename them upstream"
        )
    payload = [c for c in frame.columns if c not in (id_col, tokens_col)]
    keep = [id_col, tokens_col] + [
        c for c in (order_cols or []) if c not in (id_col, tokens_col)
    ]
    packed = pack_sequences(
        frame.select(*keep),
        token_budget=seq_token_budget,
        id_col=id_col,
        tokens_col=tokens_col,
        order_cols=order_cols,
    )
    # aligned fast path: packed is the unmodified pack output and both
    # budgets are in hand, so the second prefix sum is a projection
    sharded = assign_shards_aligned(
        packed,
        shard_token_budget,
        seq_token_budget,
        tokens_col=tokens_col,
    )
    if payload:
        sharded = sharded.join(frame.select(id_col, *payload), id_col)
    return sharded


def select_to_quota(
    sized: DataFrame,
    quotas: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    salt: str = "",
) -> DataFrame:
    """The selection half of quota-enforced delivery: sample each source
    down to its token quota, deterministically and engine-portably.

    Selection order within a source is the md5 hash of the id (salted),
    id as tie-break — a reproducible pseudo-random permutation, so the
    kept prefix is an unbiased sample of the source rather than its
    ingest-order head, and every engine/run/partitioning agrees on it
    (the DuckDB twin orders by the identical md5 expression). Greedy
    prefix semantics: a doc whose tokens would cross the quota is
    dropped along with everything after it, so delivered tokens land in
    (quota − max_doc_tokens, quota] for every source that has enough
    material (never over; under only by less than one document).
    Sources not listed in ``quotas`` are EXCLUDED (mixture specs are
    exhaustive — see ``cap_tokens_per_quota``).
    """
    from .sampling import cap_tokens_per_quota

    if "_ord" in sized.columns:
        raise ValueError("input already has reserved column _ord")
    ordered = sized.withColumn(
        "_ord", F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")))
    )
    return cap_tokens_per_quota(
        ordered, source_col, tokens_col, quotas, ["_ord", id_col]
    ).drop("_ord")


def write_training_shards_with_quota(
    sized: DataFrame,
    quotas: dict[str, int],
    path: str,
    source_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    seq_token_budget: int = 512,
    shard_token_budget: int = 4096,
    salt: str = "",
) -> dict:
    """Quota-ENFORCED delivery: compose ``select_to_quota`` →
    ``pack_sequences`` → ``assign_shards`` → ``write_training_shards``.
    ``shard_source_mix_manifest`` AUDITS a delivery's mix after the
    fact; this writer GUARANTEES it going in — each source contributes
    at most its token quota (and at least quota − one document, given
    enough material), so the trainer's recipe ("30% web / 70% curated")
    is enforced by construction, not hoped for.

    ``sized`` carries (id_col, tokens_col, source_col, *payload);
    payload columns (text etc.) ride through to the delivered shards.
    Same incremental/idempotent contract as ``write_training_shards``
    (digest-diff replay safety — a re-run over identical input and
    quotas rewrites nothing). Returns the writer report plus
    ``selected``: per-source (n_docs, n_tokens) actually delivered —
    driver-side, len(quotas) rows.
    """
    # lazy checkpoint: the selection (md5 hash + per-source window over
    # the corpus) feeds the pack, the payload join-back AND the report
    # aggregate — without the pin it would recompute three times
    selected = select_to_quota(
        sized, quotas, source_col, id_col, tokens_col, salt=salt
    ).localCheckpoint(eager=False)
    sharded = pack_assign_with_payload(
        selected,
        seq_token_budget,
        shard_token_budget,
        id_col=id_col,
        tokens_col=tokens_col,
    )
    report = write_training_shards(
        sharded, path, id_col=id_col, tokens_col=tokens_col
    )
    report["selected"] = {
        r[source_col]: {"n_docs": r["n_docs"], "n_tokens": r["n_tokens"]}
        for r in selected.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(
                F.sum(F.col(tokens_col)).cast("long"), F.lit(0).cast("long")
            ).alias("n_tokens"),
        )
        .collect()  # bounded: one row per quota'd source
    }
    return report
