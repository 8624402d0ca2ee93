"""Unit tests for the type-mapping table and DDL generator (SURVEY.md §1.4,
§2.8) — every JDBC code × both dialects, $1 sizing edge cases, override
precedence, NOT NULL, dialect PK placement."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from spanner_jdbc_converter_spark import types as tm
from spanner_jdbc_converter_spark.ddl import (
    IndexSpec,
    create_index_ddl,
    create_table_ddl,
    drop_index_ddl,
    drop_table_ddl,
)
from spanner_jdbc_converter_spark.modes import ConvertMode, TableExistsError, should_copy_data
from spanner_jdbc_converter_spark.types import ColumnSpec, TableSpec

# (jdbc code, size, expected spanner, expected pg) — mirrors the §1.4 table.
CASES = [
    (tm.BOOLEAN, 0, "BOOL", "BOOLEAN"),
    (tm.BIT, 0, "BOOL", "BOOLEAN"),
    (tm.BIGINT, 0, "INT64", "BIGINT"),
    (tm.SMALLINT, 0, "INT64", "SMALLINT"),
    (tm.TINYINT, 0, "INT64", "SMALLINT"),
    (tm.INTEGER, 0, "INT64", "INTEGER"),
    (tm.CHAR, 1, "STRING(1)", "CHARACTER"),
    (tm.VARCHAR, 255, "STRING(255)", "VARCHAR(255)"),
    (tm.NVARCHAR, 100, "STRING(100)", "VARCHAR(100)"),
    (tm.FLOAT, 0, "FLOAT64", "REAL"),
    (tm.REAL, 0, "FLOAT64", "REAL"),
    (tm.DOUBLE, 0, "FLOAT64", "DOUBLE PRECISION"),
    (tm.DECIMAL, 0, "FLOAT64", "DECIMAL"),
    (tm.NUMERIC, 0, "FLOAT64", "NUMERIC"),
    (tm.DATE, 0, "DATE", "DATE"),
    (tm.TIME, 0, "TIMESTAMP", "TIME"),
    (tm.TIMESTAMP, 0, "TIMESTAMP", "TIMESTAMP"),
    (tm.BINARY, 16, "BYTES(16)", "BYTEA"),
    (tm.VARBINARY, 64, "BYTES(64)", "BYTEA"),
    (tm.LONGVARBINARY, 0, "BYTES(1000000)", "BYTEA"),
    (tm.BLOB, 0, "BYTES(1000000)", "BYTEA"),
    (tm.LONGVARCHAR, 0, "STRING(4000)", "TEXT"),
    (tm.CLOB, 0, "STRING(4000)", "TEXT"),
]


@pytest.mark.parametrize("code,size,spanner,pg", CASES)
def test_type_mapping_both_dialects(code, size, spanner, pg):
    assert tm.map_type(code, tm.SPANNER, size) == spanner
    assert tm.map_type(code, tm.POSTGRESQL, size) == pg


def test_size_zero_defaults():
    assert tm.map_type(tm.VARCHAR, tm.SPANNER, 0) == "STRING(4000)"
    assert tm.map_type(tm.VARBINARY, tm.SPANNER, 0) == "BYTES(1000000)"


def test_size_capped_at_max():
    assert tm.map_type(tm.VARCHAR, tm.SPANNER, 5_000_000) == "STRING(1000000)"


def test_unknown_type_raises():
    with pytest.raises(tm.UnknownTypeError):
        tm.map_type(9999, tm.SPANNER)
    with pytest.raises(tm.UnknownTypeError):
        tm.map_type(tm.VARCHAR, "oracle")


def test_override_precedence_table_qualified_wins():
    # converter.properties.example:4 — uuid=BYTES(16)
    overrides = {"uuid": "BYTES(16)", "users.uuid": "STRING(36)"}
    assert (
        tm.map_type(tm.VARCHAR, tm.SPANNER, 40, table="users", column="uuid",
                    overrides=overrides)
        == "STRING(36)"
    )
    assert (
        tm.map_type(tm.VARCHAR, tm.SPANNER, 40, table="events", column="uuid",
                    overrides=overrides)
        == "BYTES(16)"
    )
    assert (
        tm.map_type(tm.VARCHAR, tm.SPANNER, 40, table="events", column="other",
                    overrides=overrides)
        == "STRING(40)"
    )


def test_lossy_decimal_flag():
    assert tm.map_type(tm.NUMERIC, tm.SPANNER, lossy_decimal=True) == "FLOAT64"
    assert tm.map_type(tm.NUMERIC, tm.SPANNER, lossy_decimal=False) == "NUMERIC"
    # PG keeps NUMERIC either way
    assert tm.map_type(tm.NUMERIC, tm.POSTGRESQL, lossy_decimal=True) == "NUMERIC"


def test_spark_round_trip():
    assert tm.to_spark_type(tm.BIGINT) == T.LongType()
    assert tm.to_spark_type(tm.NUMERIC, 10, 2) == T.DecimalType(10, 2)
    assert tm.from_spark_type(T.LongType()) == tm.BIGINT
    with pytest.raises(tm.UnknownTypeError):
        tm.from_spark_type(T.ArrayType(T.FloatType()))


ORDERS_SPEC = TableSpec(
    name="orders",
    columns=[
        ColumnSpec("o_orderkey", tm.BIGINT, nullable=False),
        ColumnSpec("o_custkey", tm.BIGINT),
        ColumnSpec("o_comment", tm.VARCHAR, size=79),
    ],
    primary_key=["o_orderkey"],
)


def test_create_table_spanner_pk_trailing():
    ddl = create_table_ddl(ORDERS_SPEC, tm.SPANNER)
    assert ddl == (
        "CREATE TABLE orders (o_orderkey INT64 NOT NULL, o_custkey INT64, "
        "o_comment STRING(79)) PRIMARY KEY (o_orderkey)"
    )


def test_create_table_pg_pk_inline():
    ddl = create_table_ddl(ORDERS_SPEC, tm.POSTGRESQL)
    assert ddl == (
        "CREATE TABLE orders (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, "
        "o_comment VARCHAR(79), PRIMARY KEY (o_orderkey))"
    )


def test_create_index_ddl_and_pk_skip():
    idx = IndexSpec("idx_orders_cust", "orders", ["o_custkey", "o_orderdate"], [False, True])
    assert (
        create_index_ddl(idx)
        == "CREATE INDEX idx_orders_cust ON orders (o_custkey, o_orderdate DESC)"
    )
    assert create_index_ddl(idx, pk_index_names={"idx_orders_cust"}) is None
    uniq = IndexSpec("u_idx", "orders", ["o_orderkey"], unique=True)
    assert create_index_ddl(uniq) == "CREATE UNIQUE INDEX u_idx ON orders (o_orderkey)"


def test_drop_ddl():
    assert drop_table_ddl("orders") == "DROP TABLE orders"
    assert drop_index_ddl("idx") == "DROP INDEX idx"


def test_table_spec_from_spark_schema(spark, sf_dir):
    from spanner_jdbc_converter_spark.catalog import PRIMARY_KEYS, load_table
    from spanner_jdbc_converter_spark.types import table_spec_from_schema

    df = load_table(spark, sf_dir, "orders")
    spec = table_spec_from_schema("orders", df.schema, PRIMARY_KEYS["orders"])
    ddl = create_table_ddl(spec, tm.SPANNER)
    assert ddl.startswith("CREATE TABLE orders (o_orderkey INT64")
    assert ddl.endswith("PRIMARY KEY (o_orderkey)")
    assert "o_orderdate TIMESTAMP" in ddl
    assert "o_totalprice FLOAT64" in ddl


@pytest.mark.parametrize(
    "mode,empty,expected",
    [
        (ConvertMode.SKIP_ALL, True, False),
        (ConvertMode.SKIP_ALL, False, False),
        (ConvertMode.SKIP_EXISTING, True, True),
        (ConvertMode.SKIP_EXISTING, False, False),
        (ConvertMode.DROP_AND_RECREATE, False, True),
        (ConvertMode.DROP_AND_RECREATE, True, True),
        (ConvertMode.THROW_IF_EXISTS, True, True),
        pytest.param(
            ConvertMode.THROW_IF_EXISTS, False, TableExistsError,
            id="ConvertMode.THROW_IF_EXISTS-False-raises",
        ),
    ],
)
def test_should_copy_data_matrix(mode, empty, expected):
    """The one data-phase gate: it decides, and for
    ThrowExceptionIfExists on a destination with rows it raises."""
    if expected is TableExistsError:
        with pytest.raises(TableExistsError, match="dest/t"):
            should_copy_data(mode, empty, "dest/t")
    else:
        assert should_copy_data(mode, empty, "dest/t") is expected
