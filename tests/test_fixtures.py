"""The fixture loader's schema cache (``sources/fixtures.py``): a file's
schema is inferred once per file version, and every later read pins it."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datalakeingestion_spark.sources.fixtures import load_events_pruned, load_table

from .conftest import SF_SMALL


def _jobs(spark, group, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy(tmp_path, name):
    shutil.copy(os.path.join(SF_SMALL, f"{name}.parquet"), tmp_path)
    return str(tmp_path)


def test_second_load_launches_no_job(spark, tmp_path):
    sf = _copy(tmp_path, "orders")
    cold, cold_jobs = _jobs(spark, "fx-cold", lambda: load_table(spark, sf, "orders"))
    warm, warm_jobs = _jobs(spark, "fx-warm", lambda: load_table(spark, sf, "orders"))
    assert cold_jobs >= 1  # the first read infers the schema
    assert warm_jobs == 0
    assert warm.schema == cold.schema


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey",
        "r_name",
    ]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "extra": [7, 8]}),
        path,
    )
    df, jobs = _jobs(
        spark, "fx-rewrite", lambda: load_table(spark, str(tmp_path), "region")
    )
    assert jobs >= 1
    assert df.columns == ["r_regionkey", "r_name", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "A", 7), (1, "B", 8)]


def _nanos_events(tmp_path):
    """events with ``ts`` stored as TIMESTAMP(NANOS): the bigint branch."""
    t = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet")
    return str(tmp_path)


@pytest.mark.parametrize("storage", ["micros_ntz", "nanos"])
def test_events_cold_and_cached_agree(spark, tmp_path, storage):
    sf = _copy(tmp_path, "events") if storage == "micros_ntz" else _nanos_events(tmp_path)
    cold = load_table(spark, sf, "events")
    cached, jobs = _jobs(spark, "fx-events", lambda: load_table(spark, sf, "events"))
    assert jobs == 0
    assert dict(cold.dtypes)["ts"] == "timestamp"
    assert cached.schema == cold.schema
    assert sorted(cached.collect()) == sorted(cold.collect())


def test_events_pruned_shares_the_cached_schema(spark, tmp_path):
    sf = _copy(tmp_path, "events")
    full = load_table(spark, sf, "events")
    pruned, jobs = _jobs(
        spark,
        "fx-pruned",
        lambda: load_events_pruned(spark, sf, lo="2024-01-10 00:00:00"),
    )
    assert jobs == 0  # its ts dtype came from load_table's inference
    assert dict(pruned.dtypes)["ts"] == dict(full.dtypes)["ts"] == "timestamp"
    assert pruned.count() == full.filter("ts >= '2024-01-10 00:00:00'").count()
