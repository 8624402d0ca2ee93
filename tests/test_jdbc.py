"""Live JDBC round-trips against embedded Derby (ships in Spark's own
jars) — the reference is a JDBC↔JDBC tool, and these tests run its copy /
mode / delete semantics against a REAL database rather than dict-level
option checks: batched parallel writes (W4), range-partitioned scans
(S5), metadata discovery (S1/S7), and the pushed range-DELETE SQL
(W5, REF/data/DeleteWorker.java:17).  ConvertMode gating on both sinks
is tests/test_converter.py's matrix."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark import copy as cp
from spanner_jdbc_converter_spark import delete as dl
from spanner_jdbc_converter_spark.catalog import load_table, table_exists_in_source
from spanner_jdbc_converter_spark.modes import ConvertMode

DRV = cp.DERBY_EMBEDDED_DRIVER


def _url(tmp_path) -> str:
    return f"jdbc:derby:{tmp_path}/db;create=true"


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_jdbc_round_trip_with_partitioned_read(spark, sf_dir, tmp_path):
    url = _url(tmp_path)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    batch = cp.write_jdbc(customer, url, "customer", driver=DRV, num_partitions=2)
    assert batch >= cp.MIN_BATCH_ROWS  # cost model produced a real batch size

    hi = customer.agg(F.max("c_custkey")).first()[0]
    back = cp.read_jdbc(
        spark, url, "customer",
        partition_column="c_custkey", lower_bound=0, upper_bound=int(hi) + 1,
        num_partitions=4, driver=DRV,
    )
    # one bounded-range query per partition, and nothing lost or doubled
    assert back.rdd.getNumPartitions() == 4
    cols = ["c_custkey", "c_name", "c_nationkey"]
    assert _rows(back, cols) == _rows(customer, cols)


def test_jdbc_metadata_discovery_and_existence_probe(spark, sf_dir, tmp_path):
    """S1/S7 against real DatabaseMetaData — the reference's discovery
    path (REF/util/ConverterUtils.java:166-216)."""
    url = _url(tmp_path)
    cp.write_jdbc(load_table(spark, sf_dir, "region"), url, "region", driver=DRV)
    cp.write_jdbc(load_table(spark, sf_dir, "nation"), url, "nation", driver=DRV)

    gw = spark.sparkContext._gateway
    types_arr = gw.new_array(gw.jvm.java.lang.String, 1)
    types_arr[0] = "TABLE"
    conn = gw.jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.getMetaData().getTables(None, None, "%", types_arr)
        found = []
        while rs.next():
            found.append(rs.getString("TABLE_NAME"))
    finally:
        conn.close()
    assert {"REGION", "NATION"} <= set(found)
    # destination order preserved, case-insensitive intersection
    assert table_exists_in_source(found, ["nation", "part", "region"]) == ["nation", "region"]


def test_jdbc_pushed_range_delete_matches_spark_semantics(spark, sf_dir, tmp_path):
    """W5 live: the generated lexicographic range-DELETE SQL executes on a
    real database, and the surviving rows equal the Spark-side
    delete_by_range of the same frame — the two halves of the ranged
    delete pipeline agree end-to-end."""
    url = _url(tmp_path)
    nation = load_table(spark, sf_dir, "nation")
    cp.write_jdbc(nation, url, "nation", driver=DRV)

    ranges = [dl.DeleteRange((5,), (9,)), dl.DeleteRange((20,), (23,))]
    conn = spark._sc._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for r in ranges:
            # Spark's JDBC writer creates case-sensitive (quoted) columns,
            # so the pushed SQL must quote them too
            sql = dl.lexicographic_range_sql(['"n_nationkey"'], r.begin_key, r.end_key)
            st.executeUpdate(f"DELETE FROM nation WHERE {sql}")
        st.close()
    finally:
        conn.close()

    jdbc_survivors = cp.read_jdbc(spark, url, "nation", driver=DRV)
    spark_survivors = dl.delete_by_range(nation, ["n_nationkey"], ranges)
    assert _rows(jdbc_survivors, ["n_nationkey"]) == _rows(spark_survivors, ["n_nationkey"])
    assert jdbc_survivors.count() == nation.count() - 9  # 5..9 and 20..23 gone


def test_convert_table_jdbc_full_cycle(spark, sf_dir, tmp_path):
    """JDBC→JDBC conversion — the reference's actual shape — through the
    orchestrator: fresh create+copy, skip-existing no-op, then
    drop-and-recreate with the delete-strategy probe recorded."""
    from spanner_jdbc_converter_spark.converter import convert_table_jdbc, list_jdbc_tables

    url = _url(tmp_path)
    nation = load_table(spark, sf_dir, "nation")

    r1 = convert_table_jdbc(spark, nation, "nation", url, driver=DRV)
    assert r1.ddl_action == "created"
    assert r1.ddl[0].endswith("PRIMARY KEY (n_nationkey))")  # postgresql dialect
    assert r1.data_action == "copied"
    assert r1.result.record_count == nation.count()
    assert "NATION" in list_jdbc_tables(spark, url, DRV)

    r2 = convert_table_jdbc(spark, nation, "nation", url, driver=DRV)
    assert (r2.ddl_action, r2.data_action) == ("skipped", "skipped")
    assert r2.result.record_count == 0

    r3 = convert_table_jdbc(
        spark, nation, "nation", url,
        ddl_mode=ConvertMode.SKIP_EXISTING,
        data_mode=ConvertMode.DROP_AND_RECREATE,
        driver=DRV,
    )
    assert r3.delete_strategy == "single_statement"
    assert r3.data_action == "copied"
    assert cp.read_jdbc(spark, url, "nation", driver=DRV).count() == nation.count()


def test_jdbc_probes_push_down_not_scan(spark, sf_dir, tmp_path):
    """The emptiness/cardinality probes are driver-side pushed queries
    (one row over the wire) — never a Spark-side read of the destination:
    a setMaxRows(1) SELECT for emptiness and SELECT COUNT(*) for the
    exact count (REF/util/ConverterUtils.java:193-216)."""
    from spanner_jdbc_converter_spark.converter import (
        _jdbc_connection,
        jdbc_count,
        jdbc_table_nonempty,
    )

    url = _url(tmp_path)
    # empty table created via raw DDL: exists but holds no rows
    conn = _jdbc_connection(spark, url, DRV)
    try:
        conn.createStatement().executeUpdate(
            'CREATE TABLE emptytab ("k" INT NOT NULL PRIMARY KEY)'
        )
    finally:
        conn.close()
    assert jdbc_table_nonempty(spark, url, "emptytab", DRV) is False
    assert jdbc_count(spark, url, "emptytab", DRV) == 0

    nation = load_table(spark, sf_dir, "nation")
    cp.write_jdbc(nation, url, "nation", driver=DRV)
    assert jdbc_table_nonempty(spark, url, "nation", DRV) is True
    assert jdbc_count(spark, url, "nation", DRV) == nation.count()


def test_convert_table_jdbc_throw_if_exists_matches_parquet_path(spark, sf_dir, tmp_path):
    """ADVICE r4: data_mode=THROW_IF_EXISTS over a non-empty existing
    destination must RAISE (as copy_table does on the parquet path), not
    silently skip — and must still copy into an empty destination."""
    from spanner_jdbc_converter_spark.converter import convert_table_jdbc

    url = _url(tmp_path)
    region = load_table(spark, sf_dir, "region")

    # fresh destination: THROW_IF_EXISTS behaves like a plain create+copy
    r1 = convert_table_jdbc(
        spark, region, "region", url,
        ddl_mode=ConvertMode.SKIP_EXISTING,
        data_mode=ConvertMode.THROW_IF_EXISTS,
        driver=DRV,
    )
    assert (r1.ddl_action, r1.data_action) == ("created", "copied")

    # non-empty destination: the copy phase must throw, matching copy.py
    with pytest.raises(cp.TableExistsError):
        convert_table_jdbc(
            spark, region, "region", url,
            ddl_mode=ConvertMode.SKIP_EXISTING,
            data_mode=ConvertMode.THROW_IF_EXISTS,
            driver=DRV,
        )


def test_streaming_upsert_into_live_jdbc(spark, sf_dir, tmp_path):
    """CDC stream → Derby via per-batch staged MERGE: overlapping keys
    across micro-batches resolve last-wins, and a full replay with a
    fresh checkpoint leaves the destination byte-identical."""
    from pyspark.sql import types as T

    from spanner_jdbc_converter_spark.streaming.ops import upsert_stream_to_jdbc

    url = _url(tmp_path)
    in_dir = str(tmp_path / "in")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("batch", T.LongType()),
        ]
    )
    spark.createDataFrame(
        [(i, f"b1-{i}", 1) for i in range(10)], schema
    ).write.parquet(in_dir + "/f1.parquet")
    spark.createDataFrame(
        [(i, f"b2-{i}", 2) for i in range(5, 15)], schema
    ).write.parquet(in_dir + "/f2.parquet")

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
        )

    q = upsert_stream_to_jdbc(_stream(), url, "cdc_t", ["k"], str(tmp_path / "ck1"), driver=DRV)
    q.awaitTermination()

    got = {r.k: (r.v, r.batch) for r in cp.read_jdbc(spark, url, "cdc_t", driver=DRV).collect()}
    assert set(got) == set(range(15))
    for k in range(5):          # only in batch 1
        assert got[k] == (f"b1-{k}", 1)
    for k in range(5, 15):      # batch 2 overwrote the overlap (last wins)
        assert got[k] == (f"b2-{k}", 2)

    q2 = upsert_stream_to_jdbc(_stream(), url, "cdc_t", ["k"], str(tmp_path / "ck2"), driver=DRV)
    q2.awaitTermination()
    again = {r.k: (r.v, r.batch) for r in cp.read_jdbc(spark, url, "cdc_t", driver=DRV).collect()}
    assert again == got  # replay is idempotent


def test_streaming_upsert_intra_batch_conflicts_deterministic(spark, tmp_path):
    """Multiple rows with the SAME key inside ONE micro-batch must
    resolve deterministically — greatest order_col wins (ADVICE r5:
    dropDuplicates kept an arbitrary survivor, breaking the replay
    idempotence argument)."""
    from pyspark.sql import types as T

    from spanner_jdbc_converter_spark.streaming.ops import upsert_stream_to_jdbc

    url = _url(tmp_path)
    in_dir = str(tmp_path / "in")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    rows = [(k, f"v{k}-{ver}", ver) for k in range(4) for ver in (3, 1, 2)]
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(
        in_dir + "/f1.parquet"
    )

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
        )

    q = upsert_stream_to_jdbc(
        _stream(), url, "cflct_t", ["k"], str(tmp_path / "ck"), driver=DRV,
        order_col="ver",
    )
    q.awaitTermination()
    got = {r.k: (r.v, r.ver) for r in cp.read_jdbc(spark, url, "cflct_t", driver=DRV).collect()}
    assert got == {k: (f"v{k}-3", 3) for k in range(4)}
