"""JDBC codegen tests — pure string/option construction, no live database
(the reference's SQL generation semantics from ingest_mysql_data.py:
245-318, SURVEY.md §4)."""

from __future__ import annotations

import pytest

from datalakeingestion_spark.sources.jdbc import (
    ANSI,
    BARE,
    MYSQL,
    JdbcIncrementalSource,
    or_rewrite_between,
)


def _src(**kw):
    defaults = dict(
        url="jdbc:mysql://host:3306/lendingstream",
        table="lendingstream.application",
        delta_field="created_datetime",
        columns=("id", "created_datetime", "status"),
    )
    defaults.update(kw)
    return JdbcIncrementalSource(**defaults)


@pytest.mark.smoke
def test_open_ended_delta_query():
    q = _src().delta_query("2024-01-01 00:00:00")
    assert q == (
        "SELECT id, created_datetime, status FROM lendingstream.application "
        "WHERE created_datetime >= '2024-01-01 00:00:00'"
    )


def test_windowed_between_query():
    q = _src().delta_query("2024-01-01 00:00:00", "2024-01-01 23:59:59")
    assert "BETWEEN '2024-01-01 00:00:00' AND '2024-01-01 23:59:59'" in q


def test_coalesce_or_rewrite():
    # coalesce(modified,created) BETWEEN → OR of per-column BETWEENs so the
    # source DB can use per-column indexes (ingest_mysql_data.py:256-262)
    q = _src(
        delta_expr_cols=("modified_datetime", "created_datetime")
    ).delta_query("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    assert (
        "(modified_datetime BETWEEN '2024-01-01 00:00:00' AND "
        "'2024-01-02 00:00:00' OR created_datetime BETWEEN "
        "'2024-01-01 00:00:00' AND '2024-01-02 00:00:00')" in q
    )


def test_or_rewrite_shape():
    assert or_rewrite_between(("a", "b"), "1", "2") == (
        "(a BETWEEN '1' AND '2' OR b BETWEEN '1' AND '2')"
    )


def test_empty_projection_falls_back_to_star():
    assert _src(columns=()).delta_query("1").startswith("SELECT * FROM")


def test_partitioned_read_options():
    src = _src(
        partition_column="id",
        lower_bound="1",
        upper_bound="1000000",
        num_partitions=16,
    )
    opts = src.reader_options("2024-01-01 00:00:00")
    # query+partitionColumn is illegal in Spark → derived-table dbtable form
    assert "query" not in opts
    assert opts["dbtable"].startswith("(SELECT ") and opts["dbtable"].endswith(") AS t")
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "10000"


def test_partitioned_read_requires_bounds():
    with pytest.raises(ValueError, match="requires"):
        _src(partition_column="id").reader_options("1")


# ---------------------------------------------------------------------------
# Dialect profiles — codegen parity with the reference's only real source
# (MySQL, ingest_mysql_data.py:250-267). No live MySQL ships here; these
# pin the generated TEXT under each quoting/literal profile (the same way
# the BARE golden strings are pinned against the MySQL-8 lexical subset),
# and the ANSI profile additionally EXECUTES on DuckDB's grammar below.
# ---------------------------------------------------------------------------


def test_mysql_dialect_backtick_quoting():
    q = _src(dialect=MYSQL).delta_query("2024-01-01 00:00:00")
    assert q == (
        "SELECT `id`, `created_datetime`, `status` "
        "FROM `lendingstream`.`application` "
        "WHERE `created_datetime` >= '2024-01-01 00:00:00'"
    )


def test_mysql_dialect_windowed_and_or_rewrite():
    q = _src(
        dialect=MYSQL,
        delta_expr_cols=("modified_datetime", "created_datetime"),
    ).delta_query("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    assert q == (
        "SELECT `id`, `created_datetime`, `status` "
        "FROM `lendingstream`.`application` "
        "WHERE (`modified_datetime` BETWEEN '2024-01-01 00:00:00' AND "
        "'2024-01-02 00:00:00' OR `created_datetime` BETWEEN "
        "'2024-01-01 00:00:00' AND '2024-01-02 00:00:00')"
    )


def test_mysql_dialect_reserved_word_column_is_usable():
    # the whole point of quoting: a column named `order` (reserved) works
    q = _src(dialect=MYSQL, columns=("id", "order")).delta_query("1")
    assert "SELECT `id`, `order` FROM" in q


def test_dialect_literal_escaping_everywhere():
    # watermark values come from a control table; an embedded quote must
    # never break (or widen!) the predicate — both profiles double it
    for d in (BARE, MYSQL, ANSI):
        assert d.literal("o'clock") == "'o''clock'"
    q = _src().delta_query("2024-01-01 00:00:00' OR '1'='1")
    assert ">= '2024-01-01 00:00:00'' OR ''1''=''1'" in q


def test_mysql_dialect_ident_escapes_embedded_backtick():
    assert MYSQL.ident("we`ird") == "`we``ird`"
    assert ANSI.ident('we"ird') == '"we""ird"'


def test_bare_dialect_is_reference_parity():
    # BARE is the default and must keep emitting the reference's exact
    # text shape — the golden strings above already pin this; double-check
    # the dialect plumbing didn't alter the default path
    assert _src().delta_query("1") == _src(dialect=BARE).delta_query("1")


def test_ansi_dialect_executes_on_duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute(
        'CREATE SCHEMA lendingstream; CREATE TABLE lendingstream.application '
        '(id INT, created_datetime TIMESTAMP, status VARCHAR, "order" INT)'
    )
    con.execute(
        "INSERT INTO lendingstream.application VALUES "
        "(1, TIMESTAMP '2024-01-02 00:00:00', 'a', 7), "
        "(2, TIMESTAMP '2023-12-31 00:00:00', 'b', 8)"
    )
    q = _src(dialect=ANSI, columns=("id", "status", "order")).delta_query(
        "2024-01-01 00:00:00"
    )
    rows = con.execute(q).fetchall()
    assert rows == [(1, "a", 7)]


# ---------------------------------------------------------------------------
# LIVE database integration — embedded Derby (ships in Spark's jars).
# Exercises the actual JDBC read path the unit tests above only codegen:
# pushed delta queries, the parallel range read, the OR rewrite's
# over-selection + exact re-filter, and a full ingest job off the database.
# Identifiers are UPPERCASE because Spark's JDBC writer quotes names and
# Derby folds unquoted query identifiers to upper case.
# ---------------------------------------------------------------------------

LO, HI = "2024-01-10 00:00:00", "2024-01-20 00:00:00"


def _derby(spark, tmp_path):
    from datalakeingestion_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.col("ts") + F.expr("INTERVAL 1 HOUR"),
        ).alias("modified_ts"),
    )
    up = ev.toDF(*[c.upper() for c in ev.columns])
    up.write.jdbc(url, "EVENTS", mode="overwrite", properties=props)
    return url, props, ev


def test_live_derby_incremental_read_paths(spark, tmp_path):
    from pyspark.sql import functions as F

    from datalakeingestion_spark.operators.relational import (
        coalesce_range_filter,
    )

    url, props, ev = _derby(spark, tmp_path)
    base = dict(url=url, table="EVENTS", delta_field="TS", properties=props)
    expected = ev.filter(F.col("ts").between(LO, HI)).count()
    assert expected > 0

    # serial pushed delta query
    src = JdbcIncrementalSource(
        columns=("EVENT_ID", "USER_ID", "TS"), **base
    )
    got = src.read(spark, LO, HI)
    assert got.count() == expected
    assert [c.upper() for c in got.columns] == ["EVENT_ID", "USER_ID", "TS"]

    # parallel range read (replaces the reference's serial day windows):
    # same rows, several concurrent range queries
    par = JdbcIncrementalSource(
        columns=("EVENT_ID", "USER_ID", "TS"),
        partition_column="EVENT_ID",
        lower_bound="0",
        upper_bound="1000",
        num_partitions=4,
        **base,
    )
    pdf = par.read(spark, LO, HI)
    assert pdf.rdd.getNumPartitions() == 4
    assert pdf.count() == expected

    # coalesce→OR rewrite: the pushed OR over-selects; the exact coalesce
    # re-filter restores the reference's semantics precisely
    or_src = JdbcIncrementalSource(
        columns=("EVENT_ID", "TS", "MODIFIED_TS"),
        delta_expr_cols=("MODIFIED_TS", "TS"),
        **base,
    )
    over = or_src.read(spark, LO, HI)
    eff = F.coalesce(F.col("MODIFIED_TS"), F.col("TS"))
    exact = over.filter(eff.between(LO, HI))
    truth = ev.filter(
        F.coalesce(F.col("modified_ts"), F.col("ts")).between(LO, HI)
    ).count()
    assert over.count() >= exact.count()
    assert exact.count() == truth
    assert coalesce_range_filter  # referenced: DataFrame twin of `exact`


def test_live_derby_feeds_ingest_pipeline(spark, tmp_path):
    from pyspark.sql import functions as F

    from datalakeingestion_spark.ingest.pipeline import IncrementalIngestJob
    from datalakeingestion_spark.ingest.watermark import (
        STATUS_SUCCESS,
        ExecutionLog,
    )

    url, props, ev = _derby(spark, tmp_path)
    src = JdbcIncrementalSource(
        url=url,
        table="EVENTS",
        delta_field="TS",
        columns=("EVENT_ID", "USER_ID", "TS"),
        properties=props,
    )
    # the reference's MySQL→S3 flow: open-ended pull from the watermark,
    # landed as partitioned parquet with count validation
    frame = src.read(spark, "2020-01-01 00:00:00").toDF(
        "event_id", "user_id", "ts"
    )
    res = IncrementalIngestJob(
        spark=spark,
        ingestion_id=7,
        source=frame,
        delta_field="ts",
        target_location=str(tmp_path / "lake"),
        log=ExecutionLog(spark, str(tmp_path / "log")),
    ).run()
    assert res.status == STATUS_SUCCESS
    assert spark.read.parquet(str(tmp_path / "lake")).count() == ev.count()


def test_jdbc_dml_writers_round_trip(spark, tmp_path):
    """K5 JDBC DML writers (reference utils/MySQLWrapper.py:78-106):
    append/overwrite via the distributed writer, REPLACE-semantics upsert
    via the staging protocol, and dict-shaped insert/update — each written
    then re-read from a LIVE embedded Derby and exact-matched."""
    from pyspark.sql import functions as F

    from datalakeingestion_spark.sources.jdbc_write import (
        execute_dml,
        insert_rows,
        update_rows,
        upsert_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["ID", "STATUS", "AMOUNT"],
    )

    # append creates the table; a second append stacks rows
    write_jdbc(base, url, "ORDERS", mode="append", properties=props)
    write_jdbc(base.filter("ID = 1"), url, "ORDERS", mode="append",
               properties=props)
    read = lambda t: spark.read.jdbc(url, t, properties=props)
    assert read("ORDERS").count() == 4

    # overwrite truncates (table survives) and lands exactly the new batch
    write_jdbc(base, url, "ORDERS", mode="overwrite", properties=props)
    got = sorted(tuple(r) for r in read("ORDERS").collect())
    assert got == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]

    # upsert: key 2 replaced, key 4 inserted, keys 1/3 untouched
    batch = spark.createDataFrame(
        [(2, "B2", 99.0), (4, "d", 40.0)], ["ID", "STATUS", "AMOUNT"]
    )
    upsert_jdbc(spark, batch, url, "ORDERS", key_cols=["ID"], properties=props)
    got = sorted(tuple(r) for r in read("ORDERS").collect())
    assert got == [
        (1, "a", 10.0), (2, "B2", 99.0), (3, "c", 30.0), (4, "d", 40.0),
    ]
    # no duplicate keys after repeated upserts (idempotent replace)
    upsert_jdbc(spark, batch, url, "ORDERS", key_cols=["ID"], properties=props)
    assert read("ORDERS").groupBy("ID").count().filter("count > 1").count() == 0
    # staging table dropped afterwards: only ORDERS remains visible
    assert read("ORDERS").count() == 4

    # ambiguous batch (duplicate keys) is rejected loudly
    dup = spark.createDataFrame(
        [(5, "x", 1.0), (5, "y", 2.0)], ["ID", "STATUS", "AMOUNT"]
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_jdbc(spark, dup, url, "ORDERS", key_cols=["ID"], properties=props)

    # dict-shaped control-plane DML (insert-from-dict / update-from-dict)
    n = insert_rows(
        spark, url, "ORDERS",
        [
            {"ID": 5, "STATUS": "e", "AMOUNT": 50.0},
            {"ID": 6, "STATUS": "f", "AMOUNT": 60.0},
        ],
        properties=props,
    )
    assert n == 2
    n = update_rows(
        spark, url, "ORDERS",
        set_values={"STATUS": "E2", "AMOUNT": 55.0},
        where={"ID": 5},
        properties=props,
    )
    assert n == 1
    row = read("ORDERS").filter(F.col("ID") == 5).collect()[0]
    assert (row["STATUS"], row["AMOUNT"]) == ("E2", 55.0)

    # raw DML escape hatch
    assert execute_dml(spark, url, "DELETE FROM ORDERS WHERE ID = 6", props) == 1
    assert read("ORDERS").count() == 5


def test_live_source_growth_after_observed_write(spark, tmp_path, monkeypatch):
    """Against a LIVE source every action re-executes the query, so any
    later read of the source (validation, a second scan) can see rows the
    write did not. Rows committed after the batch's one scan (with later
    delta values) must stay out of this batch — the watermark only
    advances to the observed max, so they would be re-pulled next run as
    lake duplicates."""
    from pyspark.sql import functions as F

    from datalakeingestion_spark.ingest.pipeline import IncrementalIngestJob
    from datalakeingestion_spark.ingest.watermark import (
        STATUS_LOADED,
        STATUS_SUCCESS,
        ExecutionLog,
    )
    from datalakeingestion_spark.sources.fixtures import load_table

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "ts"
    )
    mid = "2024-01-15 00:00:00"
    early = ev.filter(F.col("ts") <= mid)
    late = ev.filter(F.col("ts") > mid)
    early.toDF(*[c.upper() for c in early.columns]).write.jdbc(
        url, "EVENTS", mode="overwrite", properties=props
    )

    src = JdbcIncrementalSource(
        url=url,
        table="EVENTS",
        delta_field="TS",
        columns=("EVENT_ID", "USER_ID", "TS"),
        properties=props,
    )

    def frame():
        return src.read(spark, "2020-01-01 00:00:00").toDF(
            "event_id", "user_id", "ts"
        )

    grown = {"done": False}
    orig = ExecutionLog.append

    def append_then_commit_more(self, ingestion_id, status, *args, **kwargs):
        out = orig(self, ingestion_id, status, *args, **kwargs)
        if status == STATUS_LOADED and not grown["done"]:
            # a writer commits more rows right after the batch's write
            late.toDF(*[c.upper() for c in late.columns]).write.jdbc(
                url, "EVENTS", mode="append", properties=props
            )
            grown["done"] = True
        return out

    monkeypatch.setattr(ExecutionLog, "append", append_then_commit_more)

    def job():
        return IncrementalIngestJob(
            spark=spark,
            ingestion_id=7,
            source=frame(),
            delta_field="ts",
            target_location=str(tmp_path / "lake"),
            log=ExecutionLog(spark, str(tmp_path / "log")),
        )

    r1 = job().run()
    assert grown["done"]
    assert r1.status == STATUS_SUCCESS and r1.source_count == early.count()
    lake = spark.read.parquet(str(tmp_path / "lake"))
    assert lake.count() == early.count()  # mid-run commits excluded
    assert lake.filter(F.col("ts") > mid).count() == 0

    r2 = job().run()  # next watermark window picks them up exactly once
    assert r2.status == STATUS_SUCCESS and r2.source_count == late.count()
    lake = spark.read.parquet(str(tmp_path / "lake"))
    assert lake.count() == ev.count()
    assert lake.groupBy("event_id").count().filter("count > 1").count() == 0


# ---------------------------------------------------------------------------
# MySQL-8 pushdown golden tests (the wire-dialect evidence the embedded-
# Derby round-trips can't give: Derby accepts this subset too, so these
# pin the EXACT generated text and check it against an independent SQL
# parser + MySQL lexical rules instead)
# ---------------------------------------------------------------------------


def _assert_mysql8_subset(sql: str) -> None:
    """The generated pushdown must stay inside the dialect-neutral subset
    MySQL 8 accepts verbatim: bare [a-z0-9_.]/star identifiers (nothing
    needing backtick quoting), single-quoted literals with no embedded
    quotes, and only SELECT/FROM/WHERE/BETWEEN/AND/OR/AS keywords — no
    ANSI-only forms (FETCH FIRST, ILIKE, ||, double-quoted strings)."""
    import re

    # literals out, then check the remaining tokens
    stripped = re.sub(r"'[^']*'", "'L'", sql)
    assert '"' not in stripped, sql  # ANSI_QUOTES-dependent in MySQL
    assert "||" not in stripped and "FETCH" not in stripped.upper(), sql
    for tok in re.findall(r"[A-Za-z_][A-Za-z0-9_.]*", stripped):
        assert tok in ("SELECT", "FROM", "WHERE", "BETWEEN", "AND", "OR",
                       "AS", "L", "t") or re.fullmatch(
            r"[a-z_][a-z0-9_]*(\.[a-z_][a-z0-9_]*)?", tok
        ), (tok, sql)
    # balanced quoting: literals must tokenize cleanly
    assert sql.count("'") % 2 == 0, sql


def _assert_parses(sql: str) -> None:
    """Independent grammar check via DuckDB's parser (json_serialize_sql
    parses without executing; errors on malformed SQL). Not a MySQL
    parser — the lexical subset check above covers the dialect side —
    but it catches structural breakage (unbalanced parens/quotes,
    dangling operators) no regex golden test would."""
    import json

    import duckdb

    # json_serialize_sql needs a constant VARCHAR — inline with '' escape
    lit = sql.replace("'", "''")
    res = json.loads(
        duckdb.execute(
            f"SELECT json_serialize_sql('{lit}')"
        ).fetchone()[0]
    )
    assert not res.get("error"), (res.get("error_message"), sql)


def test_pushdown_golden_mysql8():
    """Golden text for every pushed-query shape the source generates.
    Reference pendant: ingest_mysql_data.py:250-267 (windowed BETWEEN),
    :256-262 (coalesce→OR so MySQL can use per-column indexes),
    :306-318 (open-ended catch-up)."""
    base = _src()
    golden = {
        base.delta_query("2024-01-01 00:00:00"): (
            "SELECT id, created_datetime, status "
            "FROM lendingstream.application "
            "WHERE created_datetime >= '2024-01-01 00:00:00'"
        ),
        base.delta_query("2024-01-01 00:00:00", "2024-01-02 00:00:00"): (
            "SELECT id, created_datetime, status "
            "FROM lendingstream.application "
            "WHERE created_datetime BETWEEN '2024-01-01 00:00:00' "
            "AND '2024-01-02 00:00:00'"
        ),
        _src(
            delta_expr_cols=("modified_datetime", "created_datetime")
        ).delta_query("2024-01-01 00:00:00", "2024-01-02 00:00:00"): (
            "SELECT id, created_datetime, status "
            "FROM lendingstream.application "
            "WHERE (modified_datetime BETWEEN '2024-01-01 00:00:00' "
            "AND '2024-01-02 00:00:00' "
            "OR created_datetime BETWEEN '2024-01-01 00:00:00' "
            "AND '2024-01-02 00:00:00')"
        ),
    }
    for got, want in golden.items():
        assert got == want
        _assert_mysql8_subset(got)
        _assert_parses(got)


def test_pushdown_golden_partitioned_derived_table():
    """The parallel-range form wraps the SAME pushed query in a derived
    table (Spark forbids query+partitionColumn); the inner text must be
    byte-identical to the serial form so MySQL's planner sees one query
    shape either way."""
    src = _src(
        delta_expr_cols=("modified_datetime", "created_datetime"),
        partition_column="id",
        lower_bound="1",
        upper_bound="100000",
        num_partitions=8,
    )
    opts = src.reader_options("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    inner = src.delta_query("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    assert opts["dbtable"] == f"({inner}) AS t"
    _assert_mysql8_subset(opts["dbtable"].strip("()").replace(") AS t", ""))
    _assert_parses(f"SELECT * FROM {opts['dbtable']}")
    # Spark composes 'SELECT * FROM (inner) AS t WHERE id >= ? AND id < ?'
    # per range partition — that composition must also parse
    _assert_parses(
        f"SELECT * FROM {opts['dbtable']} WHERE id >= 1 AND id < 12501"
    )


def test_pushdown_executes_on_independent_engine():
    """EXECUTED-not-just-parsed evidence for every pushed-query shape:
    build the reference's table in DuckDB (an independent engine that
    enforces a real SQL grammar on execution, not merely a parse), run
    the generated text VERBATIM, and check the row sets against a
    Python reference of the intended semantics — the open-ended
    catch-up, the windowed BETWEEN, the coalesce→OR rewrite
    (over-selection contract + exact residual), and the partitioned
    derived-table composition Spark sends per range. Combined with the
    MySQL-8 lexical-subset golden tests above, this is the strongest
    offline evidence available (no MySQL-grammar engine ships in this
    environment; the text stays inside the dialect-neutral subset both
    engines accept verbatim)."""
    from datetime import datetime

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE SCHEMA lendingstream")
    con.execute(
        "CREATE TABLE lendingstream.application ("
        "id BIGINT, created_datetime TIMESTAMP, "
        "modified_datetime TIMESTAMP, status VARCHAR)"
    )
    # 300 rows over three days; every third row modified LATER than
    # created (the coalesce case), every fifth never modified (NULL)
    rows = []
    for i in range(300):
        created = datetime(2024, 1, 1 + i % 3, i % 24, (7 * i) % 60)
        modified = (
            None
            if i % 5 == 0
            else datetime(2024, 1, 1 + (i % 3 + i % 2) % 3, (i + 3) % 24, 0)
        )
        rows.append((i, created, modified, f"s{i % 4}"))
    con.executemany(
        "INSERT INTO lendingstream.application VALUES (?, ?, ?, ?)", rows
    )

    def run(sql):
        return {r[0] for r in con.execute(sql).fetchall()}

    lo, hi = "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    lo_dt, hi_dt = datetime(2024, 1, 2), datetime(2024, 1, 3)

    # open-ended catch-up
    got = run(_src().delta_query(lo))
    assert got == {i for i, c, m, s in rows if c >= lo_dt}

    # windowed BETWEEN (inclusive both ends, the SQL contract)
    got = run(_src().delta_query(lo, hi))
    want_window = {i for i, c, m, s in rows if lo_dt <= c <= hi_dt}
    assert got == want_window and 0 < len(got) < len(rows)

    # coalesce→OR rewrite: executed OR == Python OR reference; it must
    # over-select a documented SUPERSET of the exact coalesce window,
    # and the exact residual applied to the returned rows must recover
    # precisely the coalesce semantics (sources/jdbc.py contract)
    src = _src(delta_expr_cols=("modified_datetime", "created_datetime"))
    got_or = run(src.delta_query(lo, hi))
    want_or = {
        i
        for i, c, m, s in rows
        if (m is not None and lo_dt <= m <= hi_dt) or lo_dt <= c <= hi_dt
    }
    want_exact = {
        i for i, c, m, s in rows if lo_dt <= (m if m is not None else c) <= hi_dt
    }
    assert got_or == want_or
    assert want_exact <= got_or
    assert want_exact < want_or  # the fixture genuinely exercises it
    by_id = {i: (c, m) for i, c, m, s in rows}
    residual = {
        i
        for i in got_or
        if lo_dt <= (by_id[i][1] if by_id[i][1] is not None else by_id[i][0]) <= hi_dt
    }
    assert residual == want_exact

    # partitioned derived-table composition: Spark sends one query per
    # range — first/last partitions are open-ended, middles half-open.
    # Executed union must equal the serial result with zero overlap.
    psrc = _src(
        delta_expr_cols=("modified_datetime", "created_datetime"),
        partition_column="id",
        lower_bound="0",
        upper_bound="300",
        num_partitions=4,
    )
    dbtable = psrc.reader_options(lo, hi)["dbtable"]
    bounds = [75, 150, 225]
    parts = (
        [f"SELECT * FROM {dbtable} WHERE id < {bounds[0]} OR id IS NULL"]
        + [
            f"SELECT * FROM {dbtable} WHERE id >= {a} AND id < {b}"
            for a, b in zip(bounds, bounds[1:])
        ]
        + [f"SELECT * FROM {dbtable} WHERE id >= {bounds[-1]}"]
    )
    per_part = [run(p) for p in parts]
    assert set().union(*per_part) == got_or
    assert sum(len(p) for p in per_part) == len(got_or)  # disjoint
