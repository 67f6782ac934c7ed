"""Small process-model utilities (SURVEY.md §2.12 parity).

- ``section_logger`` — the reference builds rotating-file loggers per
  section (DEFAULT / PROCESS / EXCEPTION; utils/customlogger.py:36-60).
  Kept as a thin stdlib factory: same section concept, no custom config
  parser, driver-side only (executors log through log4j).
- ``with_retries`` — the reference retries DB connects 3× with linear
  backoff i*5s (utils/MySQLWrapper.py:32-41). Spark retries *tasks*
  natively; this wrapper is for driver-side calls (JDBC metadata probes,
  control-table fetches) where the reference used it.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from logging.handlers import RotatingFileHandler
from typing import TypeVar

T = TypeVar("T")

SECTIONS = ("DEFAULT", "PROCESS", "EXCEPTION")


def section_logger(
    section: str = "DEFAULT",
    log_dir: str | None = None,
    max_bytes: int = 10_000_000,
    backups: int = 3,
) -> logging.Logger:
    if section not in SECTIONS:
        raise ValueError(f"unknown log section {section!r}; expected {SECTIONS}")
    logger = logging.getLogger(f"datalakeingestion.{section.lower()}")
    if not logger.handlers:
        if log_dir:
            handler: logging.Handler = RotatingFileHandler(
                f"{log_dir}/{section.lower()}.out",
                maxBytes=max_bytes,
                backupCount=backups,
            )
        else:
            handler = logging.StreamHandler()
        handler.setFormatter(
            logging.Formatter("%(asctime)s %(name)s %(levelname)s %(message)s")
        )
        logger.addHandler(handler)
        logger.setLevel(logging.INFO)
    return logger


def write_driver_parquet(
    spark,
    table,
    dest_dir: str,
    filename: str = "part-00000.snappy.parquet",
    overwrite: bool = False,
) -> None:
    """Write a DRIVER-SIDE pyarrow table as one parquet file under
    ``dest_dir`` without launching a Spark job — the metadata-write twin
    of ``ExecutionLog._write_batch`` (ingest/watermark.py): serialize
    locally, copy into place through the Hadoop FS API (works for any
    supported scheme), land under a dot-prefixed in-flight name and
    rename so a concurrent recursive reader never sees a partial footer.
    For metadata-scale frames only (a k×dim centroid table, a 1-row meta
    record); data-scale writes stay distributed.

    ``overwrite=True`` replaces the directory (delete, then write) —
    the same non-atomic window the Spark committer's overwrite mode had
    for these single-file metadata dirs. The default appends a new file
    beside existing ones (pass a unique ``filename``)."""
    import os
    import tempfile
    import uuid

    import pyarrow.parquet as pq

    with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as tmp:
        local = tmp.name
    try:
        pq.write_table(table, local, compression="snappy")
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path
        dst_dir = hpath(dest_dir)
        fs = dst_dir.getFileSystem(conf)
        if overwrite and fs.exists(dst_dir):
            fs.delete(dst_dir, True)
        fs.mkdirs(dst_dir)
        inflight = hpath(f"{dest_dir}/.inflight-{uuid.uuid4().hex}")
        # delSrc=True: a successful copy consumes the local temp file
        fs.copyFromLocalFile(True, True, hpath("file:" + local), inflight)
        # Hadoop FileSystem.rename reports failure by RETURNING false —
        # swallowing it would silently lose the record (the row would sit
        # under the dot-prefixed in-flight name, hidden from readers)
        if not fs.rename(inflight, hpath(f"{dest_dir}/{filename}")):
            raise RuntimeError(
                f"rename failed publishing {dest_dir}/{filename} "
                "(in-flight file left for inspection)"
            )
    finally:
        # the copy consumed it on success; clean up on any failure path
        if os.path.exists(local):
            os.unlink(local)


def read_driver_parquet(spark, path: str, schema):
    """Every visible parquet file under ``path``, read on the DRIVER into
    one pyarrow table of ``schema`` (a ``pyarrow.Schema``) — the read twin
    of :func:`write_driver_parquet`. Files are found with one
    ``listStatus`` per directory and their bytes fetched through the
    Hadoop FS API, so every scheme works without a Spark job. Like a
    schema-pinned ``spark.read.parquet``: ``.``/``_``-prefixed names
    (in-flight files, ``_SUCCESS``, checksums) are skipped, a column a
    file lacks reads as null, and timestamps without a zone (the INT96
    a Spark committer writes) are UTC instants. A missing ``path`` reads
    as an empty table. For metadata-scale directories only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .ingest.merge import _fs, _walk

    jvm, fs, root = _fs(spark, path)
    if not fs.exists(root):
        return schema.empty_table()
    read_all = jvm.org.apache.commons.io.IOUtils.toByteArray
    tables = []
    for st in _walk(fs, root, skip_hidden=True):
        stream = fs.open(st.getPath())
        try:
            t = pq.read_table(pa.BufferReader(read_all(stream)))
        finally:
            stream.close()
        tables.append(
            pa.table(
                [
                    t[f.name].cast(f.type, safe=False)
                    if f.name in t.column_names
                    else pa.nulls(t.num_rows, f.type)
                    for f in schema
                ],
                schema=schema,
            )
        )
    return pa.concat_tables(tables) if tables else schema.empty_table()


def _struct(schema):
    from pyspark.sql import types as st

    return st.StructType.fromDDL(schema) if isinstance(schema, str) else schema


def arrow_rows(rows: list, schema):
    """``rows`` (tuples in the order of ``schema``) as a pyarrow table of
    ``schema``, a Spark ``StructType`` or a DDL string. Every row first
    passes the check ``createDataFrame`` runs (``verifySchema=True``), so
    a bad value fails here with the same error. Naive datetimes are
    driver-local wall clock, as ``createDataFrame`` reads them."""
    import pyarrow as pa
    from pyspark.sql import types as st
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = _struct(schema)
    verify = st._make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for f, af, values in zip(schema.fields, arrow, cols):
        if isinstance(f.dataType, st.TimestampType):
            micros = [None if v is None else f.dataType.toInternal(v) for v in values]
            arrays.append(pa.array(micros, pa.int64()).cast(af.type))
        else:
            arrays.append(pa.array(values, af.type))
    return pa.table(arrays, schema=arrow)


def driver_frame(spark, rows: list, schema):
    """A DataFrame of driver-side ``rows`` (see :func:`arrow_rows`), the
    package's one way to turn a Python row list into Spark data. A list
    given to ``createDataFrame`` becomes a Python RDD, which every action
    (and every rebuild of a broadcast over it) replays through Python
    workers. An Arrow table plans as a JVM ``LocalRelation`` instead, up
    to ``spark.sql.execution.arrow.localRelationThreshold``; above it,
    Spark itself switches to a JVM RDD of Arrow batches."""
    schema = _struct(schema)
    return spark.createDataFrame(arrow_rows(rows, schema), schema)


def bounded_collect(df, max_rows: int):
    """The rows of ``df`` as one driver-side pyarrow table, or ``None``
    when ``df`` has more than ``max_rows`` rows: the read twin of
    :func:`driver_frame`, and the package's one local-versus-distributed
    decision (a caller solves the table on the driver and takes its
    distributed path on ``None``). A ``max_rows`` of -1 always gives
    ``None``.

    The decision collects one literal column of ``df.limit(max_rows + 1)``;
    only a frame that fits is then collected in full. Spark computes that
    limit by shuffling up to ``max_rows + 1`` rows from every partition
    to one task, so the decision carries no column of ``df``: over the
    bound, 200 partitions of an IVF training projection (32 dims, bound
    1,000; ``local[4]``, warm medians of 5) shuffled 67 MB in 5.9 s when
    collected outright, against 0.03 MB in 0.3 s for this decision (a
    ``limit(...).count()`` is as cheap but runs one job more). Under the
    bound the decision adds one job before the collect, two when ``df``
    ends in a shuffle. Timestamps come back as zone-aware UTC instants,
    not the naive local datetimes ``collect()`` gives."""
    from pyspark.sql import functions as F

    if df.select(F.lit(True)).limit(max_rows + 1).toArrow().num_rows > max_rows:
        return None
    return df.toArrow()


def with_retries(
    fn: Callable[[], T],
    attempts: int = 3,
    backoff_seconds: float = 5.0,
    retry_on: tuple[type[BaseException], ...] = (Exception,),
) -> T:
    """Call ``fn`` up to ``attempts`` times with linear backoff i*backoff
    (reference semantics). Raises the final error."""
    last: BaseException | None = None
    for i in range(attempts):
        try:
            return fn()
        except retry_on as exc:  # noqa: PERF203
            last = exc
            if i < attempts - 1:
                time.sleep(backoff_seconds * (i + 1))
    assert last is not None
    raise last
