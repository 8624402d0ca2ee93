"""End-to-end converter orchestration (REF/Converter.java:69-83,
REF/data/DataCopier.java:45-138): existence intersection → DDL → delete
probe → copy, across the ConvertMode matrix."""

from __future__ import annotations

import os

import pytest

from spanner_jdbc_converter_spark.catalog import load_table
from spanner_jdbc_converter_spark.converter import convert_all
from spanner_jdbc_converter_spark.copy import DERBY_EMBEDDED_DRIVER as DERBY
from spanner_jdbc_converter_spark.copy import TableExistsError
from spanner_jdbc_converter_spark.modes import ConvertMode

TABLES = ["region", "nation"]


def _counts(spark, sf_dir):
    return {t: load_table(spark, sf_dir, t).count() for t in TABLES}


def test_fresh_destination_creates_and_copies(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "dest")
    reports = convert_all(spark, sf_dir, dest, TABLES)
    assert [r.table for r in reports] == TABLES
    src_counts = _counts(spark, sf_dir)
    for r in reports:
        assert r.ddl_action == "created"
        assert r.ddl and r.ddl[0].startswith(f"CREATE TABLE {r.table} (")
        assert "PRIMARY KEY" in r.ddl[0]
        assert r.data_action == "copied"
        assert r.result.record_count == src_counts[r.table]
        assert r.result.byte_count > 0
        assert r.result.seconds >= 0
    # destination tree is loadable with the standard loader
    for t in TABLES:
        assert spark.read.parquet(f"{dest}/{t}.parquet").count() == src_counts[t]


def test_existence_intersection_filters_unknown_tables(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "dest")
    reports = convert_all(
        spark, sf_dir, dest, ["region", "no_such_table"], source_tables=["REGION"]
    )
    # case-insensitive intersection keeps region, drops the unknown table
    assert [r.table for r in reports] == ["region"]


def test_skip_existing_second_run_copies_nothing(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "dest")
    convert_all(spark, sf_dir, dest, TABLES)
    second = convert_all(spark, sf_dir, dest, TABLES)
    for r in second:
        assert r.ddl_action == "skipped"
        assert r.data_action == "skipped"
        assert r.result.record_count == 0


def test_skip_all_is_a_noop(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "dest")
    reports = convert_all(
        spark,
        sf_dir,
        dest,
        TABLES,
        ddl_mode=ConvertMode.SKIP_ALL,
        data_mode=ConvertMode.SKIP_ALL,
    )
    for r in reports:
        assert r.ddl_action == "skipped"
        assert r.data_action == "skipped"
    with pytest.raises(Exception):
        spark.read.parquet(f"{dest}/region.parquet")


def test_drop_and_recreate_replaces_stale_data(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "dest")
    # seed a stale destination: region data where nation should live
    load_table(spark, sf_dir, "region").write.parquet(f"{dest}/nation.parquet")
    reports = convert_all(
        spark,
        sf_dir,
        dest,
        ["nation"],
        ddl_mode=ConvertMode.DROP_AND_RECREATE,
        data_mode=ConvertMode.DROP_AND_RECREATE,
    )
    (r,) = reports
    assert r.ddl_action == "dropped_and_recreated"
    assert r.ddl[0] == "DROP TABLE nation"
    assert r.ddl[1].startswith("CREATE TABLE nation (")
    assert r.data_action == "copied"
    n_src = load_table(spark, sf_dir, "nation").count()
    assert r.result.record_count == n_src
    assert spark.read.parquet(f"{dest}/nation.parquet").count() == n_src


def test_data_drop_and_recreate_records_delete_probe(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "dest")
    convert_all(spark, sf_dir, dest, ["region"])
    reports = convert_all(
        spark,
        sf_dir,
        dest,
        ["region"],
        ddl_mode=ConvertMode.SKIP_EXISTING,
        data_mode=ConvertMode.DROP_AND_RECREATE,
    )
    (r,) = reports
    # region is tiny → the deleter would use the single-statement path (W6)
    assert r.delete_strategy == "single_statement"
    assert r.data_action == "copied"
    assert r.result.record_count == load_table(spark, sf_dir, "region").count()


def test_table_fanout_matches_sequential(spark, sf_dir, tmp_path):
    """X1 table-level fan-out (REF/data/DataCopier.java:167-190): a pool
    of concurrent table workers converts ≥3 tables with per-table reports
    identical in order and content to the sequential loop, and the
    destination tree loadable either way."""
    tables = ["region", "nation", "supplier", "part"]
    seq_dest = str(tmp_path / "seq")
    par_dest = str(tmp_path / "par")
    seq = convert_all(spark, sf_dir, seq_dest, tables)
    par = convert_all(spark, sf_dir, par_dest, tables, max_table_workers=4)

    assert [r.table for r in par] == tables  # request order preserved
    for s, p in zip(seq, par):
        assert (s.ddl_action, s.data_action) == (p.ddl_action, p.data_action)
        assert s.ddl == p.ddl
        assert (s.result.record_count, s.result.byte_count) == (
            p.result.record_count,
            p.result.byte_count,
        )
    for t in tables:
        assert (
            spark.read.parquet(f"{par_dest}/{t}.parquet").count()
            == load_table(spark, sf_dir, t).count()
        )
    # worker threads must not leak their scheduler pool onto the session
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None


def test_table_fanout_propagates_worker_exceptions(spark, sf_dir, tmp_path):
    """X7: a failing table inside the pool raises out of convert_all
    instead of being swallowed into a partial report list."""
    dest = str(tmp_path / "dest")
    convert_all(spark, sf_dir, dest, ["region", "nation"])
    with pytest.raises(TableExistsError):
        convert_all(
            spark,
            sf_dir,
            dest,
            ["region", "nation"],
            ddl_mode=ConvertMode.THROW_IF_EXISTS,
            data_mode=ConvertMode.THROW_IF_EXISTS,
            max_table_workers=2,
        )


def test_throw_if_exists_raises_on_nonempty_destination(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "dest")
    convert_all(spark, sf_dir, dest, ["region"])
    with pytest.raises(TableExistsError):
        convert_all(
            spark,
            sf_dir,
            dest,
            ["region"],
            ddl_mode=ConvertMode.THROW_IF_EXISTS,
            data_mode=ConvertMode.THROW_IF_EXISTS,
        )


def test_spanner_vs_postgres_pk_placement(spark, sf_dir, tmp_path):
    ddl_by_dialect = {}
    for dialect in ("cloudspanner", "postgresql"):
        dest = str(tmp_path / f"dest_{dialect}")
        (r,) = convert_all(spark, sf_dir, dest, ["region"], dialect=dialect)
        ddl_by_dialect[dialect] = r.ddl[0]
    assert ddl_by_dialect["cloudspanner"].endswith("PRIMARY KEY (r_regionkey)")
    assert "PRIMARY KEY (r_regionkey))" in ddl_by_dialect["postgresql"]


# -- one phase machine, two sinks --------------------------------------------

MODES = list(ConvertMode)
#: Destination state → rows it holds before the conversion (None: absent).
STATES = {"absent": None, "empty": 0, "nonempty": 2}


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    """One embedded Derby database for the whole matrix; cells use
    distinct table names."""
    return f"jdbc:derby:{tmp_path_factory.mktemp('matrix')}/db;create=true"


def _jdbc_execute(spark, url, *statements):
    from spanner_jdbc_converter_spark.converter import _jdbc_connection

    conn = _jdbc_connection(spark, url, DERBY)
    try:
        st = conn.createStatement()
        for sql in statements:
            st.executeUpdate(sql)
    finally:
        conn.close()


def _outcome(convert):
    """(ddl_action, delete_strategy, data_action) or "raised"."""
    try:
        r = convert()
    except TableExistsError:
        return "raised"
    return r.ddl_action, r.delete_strategy, r.data_action


@pytest.mark.parametrize("data_mode", MODES, ids=lambda m: m.name)
@pytest.mark.parametrize("ddl_mode", MODES, ids=lambda m: m.name)
def test_sinks_agree_on_every_convert_mode_cell(
    spark, sf_dir, tmp_path, derby_url, ddl_mode, data_mode
):
    """Every ddl_mode × data_mode cell against an absent, an empty and a
    non-empty destination gives the same report, the same raise-or-not
    and the same final row count on the parquet sink and on a live
    JDBC database.  A destination changes only when it is copied,
    created or dropped; a created or dropped one the data phase skips
    ends empty."""
    from spanner_jdbc_converter_spark.converter import (
        convert_table,
        convert_table_jdbc,
        jdbc_count,
        list_jdbc_tables,
    )

    source = load_table(spark, sf_dir, "region")
    n_source = source.count()
    for state, before in STATES.items():
        path = str(tmp_path / f"{state}.parquet")
        name = f"m_{ddl_mode.name}_{data_mode.name}_{state}"
        if before is not None:
            spark.range(before).write.parquet(path)
            _jdbc_execute(
                spark, derby_url, f"CREATE TABLE {name} (id BIGINT)",
                *(f"INSERT INTO {name} VALUES ({i})" for i in range(before)),
            )
        modes = dict(ddl_mode=ddl_mode, data_mode=data_mode, dialect="postgresql")
        parquet = _outcome(lambda: convert_table(spark, source, "region", path, **modes))
        jdbc = _outcome(
            lambda: convert_table_jdbc(
                spark, source, name, derby_url, driver=DERBY,
                primary_key=["r_regionkey"], **modes,
            )
        )
        assert parquet == jdbc, state

        parquet_rows = spark.read.parquet(path).count() if os.path.exists(path) else None
        jdbc_rows = (
            jdbc_count(spark, derby_url, name, DERBY)
            if name.upper() in list_jdbc_tables(spark, derby_url, DERBY)
            else None
        )
        assert parquet_rows == jdbc_rows, state
        copied = parquet != "raised" and parquet[2] == "copied"
        created = parquet != "raised" and parquet[0] == "created"
        dropped = parquet != "raised" and parquet[0] == "dropped_and_recreated"
        want = n_source if copied else 0 if dropped or created else before
        assert parquet_rows == want, state


def test_drop_and_recreate_probes_each_destination_once(spark, sf_dir, tmp_path, monkeypatch):
    """A DROP_AND_RECREATE pass over existing tables reads each
    destination's state once: the converter decides, the copy only
    writes."""
    from spanner_jdbc_converter_spark import converter, copy

    dest = str(tmp_path / "dest")
    convert_all(spark, sf_dir, dest, TABLES)
    probed = []
    for module in (converter, copy):
        real = module._dest_state

        def counted(spark, path, real=real):
            probed.append(path)
            return real(spark, path)

        monkeypatch.setattr(module, "_dest_state", counted)
    drop = ConvertMode.DROP_AND_RECREATE
    reports = convert_all(spark, sf_dir, dest, TABLES, ddl_mode=drop, data_mode=drop)
    assert sorted(probed) == sorted(f"{dest}/{t}.parquet" for t in TABLES)
    assert [r.data_action for r in reports] == ["copied"] * len(TABLES)
