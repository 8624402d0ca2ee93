"""Copy + delete pipeline tests (SURVEY.md §5.1 items 3-4): ConvertMode ×
existence matrix on real writes, cost-model formulas vs cited constants,
partition-boundary math, round-trip and delete-completeness properties."""

from __future__ import annotations

import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark import copy as cp
from spanner_jdbc_converter_spark import delete as dl
from spanner_jdbc_converter_spark.catalog import load_table
from spanner_jdbc_converter_spark.modes import ConvertMode


# -- pure cost-model math (X4/X6 vs BASELINE.md constants) ------------------


def test_spanner_batch_rows_formula():
    # bytes-bound: 1_500_000 / 150 = 10000, mutation bound 20000/(6+0)=3333
    assert cp.spanner_batch_rows(row_bytes=150, num_columns=6) == 3333
    # bytes-bound smaller: huge rows -> floor at 100
    assert cp.spanner_batch_rows(row_bytes=1_000_000, num_columns=6) == 100
    # few columns: bytes bound wins
    assert cp.spanner_batch_rows(row_bytes=1500, num_columns=2) == 1000


def test_plan_num_workers():
    assert cp.plan_num_workers(0, 1000) == 1
    assert cp.plan_num_workers(999, 1000) == 1
    assert cp.plan_num_workers(10_000, 1000) == 10
    assert cp.plan_num_workers(10**9, 1000) == 10  # capped at maxWorkers


@given(total=st.integers(0, 10**6), workers=st.integers(1, 64))
@settings(max_examples=200, deadline=None)
def test_uniform_ranges_partition_sum_invariant(total, workers):
    ranges = cp.uniform_ranges(total, workers)
    assert sum(hi - lo for lo, hi in ranges) == total
    # contiguous, non-overlapping, within bounds
    pos = 0
    for lo, hi in ranges:
        assert lo == pos and hi > lo
        pos = hi
    assert pos == total


def test_uniform_ranges_last_worker_remainder():
    # the reference's max/min bug (SURVEY.md §5.2) would give the last
    # worker count=total-offset > per; intended semantics: remainder only
    assert cp.uniform_ranges(10, 3) == [(0, 4), (4, 8), (8, 10)]
    assert cp.uniform_ranges(3, 10) == [(0, 1), (1, 2), (2, 3)]


def test_estimate_row_bytes_orders_schema(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders")
    est = cp.estimate_row_bytes(df.schema, string_len=10)
    # 6 cols * 8 overhead + 8 + 8 + 2*10 + 8 + 12 + 2*10 = 124
    assert est == 124


def test_jdbc_options():
    ropts = cp.jdbc_read_options("jdbc:postgresql://h/db", "orders", "o_orderkey", 0, 10**6, 8)
    assert ropts["partitionColumn"] == "o_orderkey"
    assert ropts["numPartitions"] == "8"
    wopts = cp.jdbc_write_options("jdbc:postgresql://h/db", "orders", batch_rows=3333)
    assert wopts["batchsize"] == "3333"


# -- copy orchestration on real parquet -------------------------------------


@pytest.fixture()
def tmp_dest():
    with tempfile.TemporaryDirectory() as d:
        yield f"{d}/dest.parquet"


def test_copy_round_trip(spark, sf_dir, tmp_dest):
    src = load_table(spark, sf_dir, "orders")
    res = cp.copy_table(spark, src, tmp_dest, ConvertMode.SKIP_EXISTING)
    assert res.record_count == src.count()
    assert res.byte_count > res.record_count * 48  # 6 cols × 8B overhead min
    back = spark.read.parquet(tmp_dest)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)
    assert back.subtract(src).isEmpty() and src.subtract(back).isEmpty()


def test_copy_skip_existing_is_noop_on_nonempty(spark, sf_dir, tmp_dest):
    src = load_table(spark, sf_dir, "orders")
    cp.copy_table(spark, src, tmp_dest, ConvertMode.SKIP_EXISTING)
    res2 = cp.copy_table(spark, src.limit(5), tmp_dest, ConvertMode.SKIP_EXISTING)
    assert res2.record_count == 0  # skipped
    assert spark.read.parquet(tmp_dest).count() == src.count()


@pytest.mark.parametrize("mode", [ConvertMode.SKIP_EXISTING, ConvertMode.THROW_IF_EXISTS])
def test_copy_fills_an_existing_empty_destination(spark, tmp_dest, mode):
    """An existing zero-row table is empty, so both gates copy into it;
    the write must not re-decide by path existence (which skipped the
    write under SKIP_EXISTING and raised PATH_ALREADY_EXISTS under
    THROW_IF_EXISTS)."""
    spark.range(0).write.parquet(tmp_dest)
    res = cp.copy_table(spark, spark.range(10), tmp_dest, mode)
    assert res.record_count == 10
    assert spark.read.parquet(tmp_dest).count() == 10


def test_dest_state_probe(spark, tmp_dest):
    """Missing path = absent; a directory without parquet files = an
    existing empty table; a corrupt part file is an error, never
    "absent" (which would let SKIP_EXISTING skip the table)."""
    import os

    assert cp._dest_state(spark, tmp_dest) == (False, True)
    os.makedirs(tmp_dest)
    assert cp._dest_state(spark, tmp_dest) == (True, True)
    with open(os.path.join(tmp_dest, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        cp._dest_state(spark, tmp_dest)
    with pytest.raises(Exception, match="(?i)parquet"):
        cp.copy_table(spark, spark.range(3), tmp_dest, ConvertMode.SKIP_EXISTING)


@pytest.mark.parametrize("mode", [ConvertMode.DROP_AND_RECREATE, ConvertMode.SKIP_ALL])
def test_copy_modes_that_ignore_the_destination_never_probe(spark, tmp_dest, monkeypatch, mode):
    """DROP_AND_RECREATE always writes and SKIP_ALL never does, so
    neither reads the destination's state."""

    def no_probe(*_):
        raise AssertionError("copy_table probed the destination")

    spark.range(3).write.parquet(tmp_dest)
    monkeypatch.setattr(cp, "_dest_state", no_probe)
    res = cp.copy_table(spark, spark.range(7), tmp_dest, mode)
    writes = mode is ConvertMode.DROP_AND_RECREATE
    assert res.record_count == (7 if writes else 0)
    assert spark.read.parquet(tmp_dest).count() == (7 if writes else 3)


def test_copy_drop_and_recreate_overwrites(spark, sf_dir, tmp_dest):
    src = load_table(spark, sf_dir, "orders")
    cp.copy_table(spark, src, tmp_dest, ConvertMode.SKIP_EXISTING)
    res = cp.copy_table(spark, src.limit(7), tmp_dest, ConvertMode.DROP_AND_RECREATE)
    assert res.record_count == 7
    assert spark.read.parquet(tmp_dest).count() == 7


def test_copy_throw_if_exists(spark, sf_dir, tmp_dest):
    src = load_table(spark, sf_dir, "orders")
    cp.copy_table(spark, src, tmp_dest, ConvertMode.SKIP_EXISTING)
    with pytest.raises(cp.TableExistsError):
        cp.copy_table(spark, src, tmp_dest, ConvertMode.THROW_IF_EXISTS)


def test_copy_skip_all_never_writes(spark, sf_dir, tmp_dest):
    src = load_table(spark, sf_dir, "orders")
    res = cp.copy_table(spark, src, tmp_dest, ConvertMode.SKIP_ALL)
    assert res.record_count == 0
    with pytest.raises(Exception):
        spark.read.parquet(tmp_dest)


# -- delete pipeline --------------------------------------------------------


def test_lexicographic_range_sql_matches_spark_predicate(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = ["l_orderkey", "l_linenumber"]
    lo, hi = (1000, 2), (3000, 1)
    via_sql = li.filter(dl.lexicographic_range_sql(pk, lo, hi)).count()
    via_col = li.filter(dl.lexicographic_range_predicate(pk, lo, hi)).count()
    assert via_sql == via_col > 0


def test_plan_delete_ranges_cover_all_rows(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = ["l_orderkey", "l_linenumber"]
    ranges = dl.plan_delete_ranges(li, pk, 4)
    assert len(ranges) == 4
    # union of ranges covers every row exactly (no gaps)
    union_covered = dl.delete_by_range(li, pk, ranges)  # survivors of delete-all-ranges
    assert union_covered.count() == 0
    # the fixture's (l_orderkey, l_linenumber) is NOT unique (duplicate key
    # pairs exist), so adjacent inclusive ranges may share a boundary key:
    # per-range counts can exceed the total but never undershoot it
    covered = sum(
        li.filter(dl.lexicographic_range_predicate(pk, r.begin_key, r.end_key)).count()
        for r in ranges
    )
    assert covered >= li.count()
    # boundaries are ordered
    assert all(ranges[i].end_key <= ranges[i + 1].begin_key for i in range(3))


def test_delete_by_keys_completeness(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = ["l_orderkey", "l_linenumber"]
    doomed = li.filter("l_orderkey % 7 = 0").select(*pk)
    survivors = dl.delete_by_keys(li, doomed, pk)
    assert survivors.count() == li.count() - doomed.count()
    assert survivors.join(doomed, on=pk, how="left_semi").isEmpty()


def test_delete_pipeline_small_set_single_statement(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = ["l_orderkey", "l_linenumber"]
    doomed = li.filter("l_orderkey % 100 = 0").select(*pk)
    n_doomed = doomed.count()
    assert 0 < n_doomed < dl.SINGLE_DELETE_THRESHOLD
    survivors = dl.delete_pipeline(li, pk, doomed)
    assert survivors.count() == li.count() - n_doomed
    # same schema, so the survivors can overwrite the table in place
    assert survivors.columns == li.columns


def test_delete_pipeline_ranged_path(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pk = ["l_orderkey", "l_linenumber"]
    doomed = li.filter("l_orderkey % 2 = 0").select(*pk)
    survivors = dl.delete_pipeline(li, pk, doomed, num_workers=4)
    assert survivors.count() == li.count() - doomed.count()
    assert survivors.join(doomed, on=pk, how="left_semi").isEmpty()


def test_delete_strategy_threshold():
    assert dl.delete_strategy(9_999) == "single_statement"
    assert dl.delete_strategy(10_000) == "ranged"


def test_lexicographic_range_sql_string_composite_pk(spark):
    # leading STRING pk column, including an embedded single quote —
    # every rendered position (head = / < / > and tail bounds) must quote
    rows = [
        ("ALPHA", 1), ("ALPHA", 2), ("BRAVO", 1), ("O'HARA", 1),
        ("O'HARA", 2), ("ZULU", 1),
    ]
    df = spark.createDataFrame(rows, ["name", "seq"])
    pk = ["name", "seq"]
    lo, hi = ("ALPHA", 2), ("O'HARA", 1)
    sql_pred = dl.lexicographic_range_sql(pk, lo, hi)
    via_sql = {tuple(r) for r in df.filter(sql_pred).collect()}
    via_col = {tuple(r) for r in df.filter(dl.lexicographic_range_predicate(pk, lo, hi)).collect()}
    assert via_sql == via_col == {("ALPHA", 2), ("BRAVO", 1), ("O'HARA", 1)}


def test_delete_pipeline_ranged_preserves_duplicate_multiplicity(spark):
    # duplicate surviving rows between doomed keys must keep their
    # multiplicity (subtract = EXCEPT DISTINCT would collapse them)
    rows = [(k, 1, "payload") for k in range(1, 101)]
    rows += [(50, 1, "payload"), (50, 1, "payload")]  # 3 total copies of key 50
    target = spark.createDataFrame(rows, ["k", "sub", "v"])
    pk = ["k", "sub"]
    doomed = target.filter("k % 2 = 1").select(*pk).distinct()
    survivors = dl.delete_pipeline(target, pk, doomed, num_workers=4)
    # 50 even keys survive; key 50 keeps all 3 copies
    assert survivors.count() == 52
    assert survivors.filter("k = 50").count() == 3


# -- bucketed co-located join (scale toolkit) -------------------------------


def test_ensure_bucketed_adopts_marked_build(spark, sf_dir):
    """ADVICE r11 (sources.py sweep): a finished bucketed build from
    another session must be ADOPTED (CREATE ... CLUSTERED BY ... LOCATION
    via the marker file), not rmtree'd and rebuilt — and the adopted
    table's self-join plan must be exchange-free exactly like the fresh
    build's.  Simulated by copying the data aside, dropping the managed
    table (which deletes its files), and restoring the copy: the catalog
    forgets, the warehouse remembers."""
    import os
    import re
    import shutil

    from spanner_jdbc_converter_spark import sources as src

    name = src.ensure_bucketed(spark, sf_dir, "orders", "o_orderkey")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh_path = wh[len("file:"):] if wh.startswith("file:") else wh
    loc = os.path.join(wh_path, name)
    assert os.path.isfile(os.path.join(loc, "_SPARK_GRAFT_BUCKET_SPEC"))
    n_expected = spark.table(name).count()
    shutil.copytree(loc, loc + "_keep")
    spark.sql(f"DROP TABLE {name}")
    shutil.move(loc + "_keep", loc)
    assert not spark.catalog.tableExists(name)
    try:
        assert src.ensure_bucketed(spark, sf_dir, "orders", "o_orderkey") == name
        t = spark.table(name)
        assert t.count() == n_expected
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = t.select("o_orderkey", F.col("o_totalprice").alias("pa"))
            b = t.select("o_orderkey", F.col("o_totalprice").alias("pb"))
            jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            plan = a.join(b, "o_orderkey")._jdf.queryExecution().explainString(jmode)
            assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), plan
            assert plan.count("Bucketed: true") == 2, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(loc, ignore_errors=True)


def test_ensure_bucketed_sweep_spares_current_key(spark, sf_dir, tmp_path):
    """The stale sweep removes SUPERSEDED content keys only: a sibling
    directory with the same (table, key, buckets, tag) prefix but a
    different hash goes, the current key's marked build stays."""
    import os
    import shutil

    from spanner_jdbc_converter_spark import sources as src

    name = src.ensure_bucketed(spark, sf_dir, "nation", "n_nationkey")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh_path = wh[len("file:"):] if wh.startswith("file:") else wh
    loc = os.path.join(wh_path, name)
    prefix = name.rsplit("_", 1)[0] + "_"
    stale = os.path.join(wh_path, prefix + "deadbeef00")
    os.makedirs(stale, exist_ok=True)
    try:
        # forget the catalog entry but keep the marked directory, then
        # re-ensure: adoption path must leave the current dir intact and
        # a fresh build of the SAME key must never run (the marker file's
        # mtime would change); the stale sibling is untouched here because
        # adoption short-circuits the sweep
        spark.sql(f"DROP TABLE {name}")
        shutil.rmtree(loc, ignore_errors=True)
        os.makedirs(os.path.dirname(loc), exist_ok=True)
        assert src.ensure_bucketed(spark, sf_dir, "nation", "n_nationkey") == name
        # rebuild path ran (no marker existed): stale sibling swept
        assert not os.path.isdir(stale)
        assert os.path.isdir(loc)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(loc, ignore_errors=True)
        shutil.rmtree(stale, ignore_errors=True)


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    from spanner_jdbc_converter_spark.catalog import load_table
    from spanner_jdbc_converter_spark.copy import write_bucketed

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(o, "t_orders_b", ["o_orderkey"], num_buckets=8,
                   sort_cols=["o_orderkey"], path=str(tmp_path / "ob"))
    write_bucketed(li, "t_lineitem_b", ["l_orderkey"], num_buckets=8,
                   sort_cols=["l_orderkey"], path=str(tmp_path / "lb"))
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_orders_b").join(
            spark.table("t_lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = joined._jdf.queryExecution().explainString(jmode).split("\n\n")[0]
        assert "Exchange" not in plan, plan
        # and it actually computes the right thing
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_salted_join_equals_plain_join(spark, sf_dir):
    from spanner_jdbc_converter_spark.catalog import load_table
    from spanner_jdbc_converter_spark.operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = o.join(c, on=["o_custkey"]).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s")
    ).first()
    salted = salted_join(o, c, on=["o_custkey"], salt=8).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s")
    ).first()
    assert (plain["n"], plain["s"]) == (salted["n"], salted["s"])

    # left join keeps unmatched big-side rows exactly once
    o_extra = o.union(spark.createDataFrame([(999999, -1)], o.schema))
    left = salted_join(o_extra, c, on=["o_custkey"], how="left", salt=8)
    assert left.filter(F.col("o_custkey") == -1).count() == 1


def test_row_hash_rejects_separator_injection(spark):
    """A value containing the field separator must not forge a column
    boundary: ('a\\x1fb', 'c') and ('a', 'b\\x1fc') concatenate
    identically without escaping and would hash equal — the diff would
    miss the change."""
    df = spark.createDataFrame(
        [("a\x1fb", "c"), ("a", "b\x1fc")], "x string, y string"
    )
    hashes = [r.h for r in df.select(cp.row_hash(["x", "y"]).alias("h")).collect()]
    assert hashes[0] != hashes[1]
    # null sentinel is likewise unforgeable: NULL != the literal '\x00'
    df2 = spark.createDataFrame([("\x00",), (None,)], "x string")
    h2 = [r.h for r in df2.select(cp.row_hash(["x"]).alias("h")).collect()]
    assert h2[0] != h2[1]


def test_delete_by_range_keeps_null_pk_rows(spark):
    """A NULL pk is in no delete range; the negated range filter must not
    silently drop it (a bare ~pred filter evaluates NULL and would)."""
    df = spark.createDataFrame([(1,), (5,), (None,)], "k long")
    ranges = [dl.DeleteRange((2,), (9,))]
    out = dl.delete_by_range(df, ["k"], ranges)
    kept = sorted((r.k if r.k is not None else -1) for r in out.collect())
    assert kept == [-1, 1]


def test_pack_token_sequences_derives_schema_from_input(spark):
    """The packer's output schema follows the input types: an integer
    group key must round-trip as an integer, not fail Arrow conversion
    against a hardcoded string field."""
    from spanner_jdbc_converter_spark.operators import selection as sel

    df = spark.createDataFrame(
        [(7, 1, 300), (7, 2, 300), (8, 3, 100)], "g int, i long, n long"
    )
    out = sel.pack_token_sequences(df, "g", "n", "i", capacity=512)
    assert dict(out.dtypes)["g"] == "int"
    rows = {r.i: (r.g, r.bin_idx, r.bin_fill) for r in out.collect()}
    assert rows[1] == (7, 0, 300)
    assert rows[2] == (7, 1, 300)  # 600 > 512 opens a new bin
    assert rows[3] == (8, 0, 100)
