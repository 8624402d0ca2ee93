"""Parallel delete pipeline (SURVEY.md §3.3) — the reference's TableDeleter
restated declaratively.

Reference flow (REF/data/TableDeleter.java:24-110): COUNT(*); < 10,000 →
one ``DELETE FROM t`` (REF/data/SingleDeleteWorker.java:18-27); otherwise
sample PK boundaries with ``LIMIT 1 OFFSET k·per`` probes and run one
DeleteWorker per range, each deleting row-at-a-time by PK
(REF/data/DeleteWorker.java:42-115).

Spark restatement: deletes over immutable columnar storage are rewrites —
``survivors = target ANTI-JOIN doomed`` written back
(:func:`delete_pipeline`).  The reference's range planning survives as
building blocks for range deletes and JDBC pushdown: boundary sampling
becomes a range repartition (:func:`plan_delete_ranges`), and the
composite-key range predicate uses *correct* lexicographic semantics
(the reference's conjunctive per-column form binds wrongly for composite
PKs, REF/data/DeleteWorker.java:91-96 — bug catalogued SURVEY.md §5.2).

At 100 TB: the anti-join broadcasts the doomed key set when small; the
range-predicate path (:func:`delete_by_range`) never shuffles at all.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Below this the reference issues a single DELETE statement
#: (REF/data/TableDeleter.java:32).
SINGLE_DELETE_THRESHOLD = 10_000


def _lex_ge(cols: list[str], key: tuple) -> Column:
    c, v = cols[0], key[0]
    if len(cols) == 1:
        return F.col(c) >= F.lit(v)
    return (F.col(c) > F.lit(v)) | ((F.col(c) == F.lit(v)) & _lex_ge(cols[1:], key[1:]))


def _lex_le(cols: list[str], key: tuple) -> Column:
    c, v = cols[0], key[0]
    if len(cols) == 1:
        return F.col(c) <= F.lit(v)
    return (F.col(c) < F.lit(v)) | ((F.col(c) == F.lit(v)) & _lex_le(cols[1:], key[1:]))


def lexicographic_range_predicate(
    pk_cols: list[str], begin_key: tuple, end_key: tuple
) -> Column:
    """True lexicographic ``begin_key <= pk <= end_key`` over a composite
    key, expanded into per-column comparisons (struct literals don't
    type-coerce against column structs; plain comparisons do, and the
    leading-column bounds still push down to the scan)."""
    return _lex_ge(pk_cols, begin_key) & _lex_le(pk_cols, end_key)


def _sql_lit(v) -> str:
    """Render one key value as a SQL literal — strings single-quoted with
    embedded quotes doubled, everything else bare.  Applied to EVERY
    rendered position (head equality/inequality and tail bounds alike)."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def lexicographic_range_sql(pk_cols: list[str], begin_key: tuple, end_key: tuple) -> str:
    """The same predicate as portable ANSI SQL text (used by oracle queries
    and JDBC DELETE pushdown, REF/data/DeleteWorker.java:17)."""

    def _ge(cols, key):  # pk >= key
        c, v = cols[0], _sql_lit(key[0])
        if len(cols) == 1:
            return f"{c} >= {v}"
        return f"({c} > {v} OR ({c} = {v} AND {_ge(cols[1:], key[1:])}))"

    def _le(cols, key):  # pk <= key
        c, v = cols[0], _sql_lit(key[0])
        if len(cols) == 1:
            return f"{c} <= {v}"
        return f"({c} < {v} OR ({c} = {v} AND {_le(cols[1:], key[1:])}))"

    return f"({_ge(pk_cols, begin_key)} AND {_le(pk_cols, end_key)})"


@dataclass
class DeleteRange:
    begin_key: tuple
    end_key: tuple


def plan_delete_ranges(
    df: DataFrame, pk_cols: list[str], num_workers: int
) -> list[DeleteRange]:
    """X5 sampled-key range partitioner.

    The reference probes ``SELECT pk ORDER BY pk LIMIT 1 OFFSET k·per``
    per boundary (REF/data/TableDeleter.java:50-110) — O(workers) full
    scans.  Here: ``repartitionByRange`` (Spark samples the key
    distribution, same spirit as the reference's probes) assigns every
    key to one contiguous range, then a per-partition min/max struct
    yields the boundaries.  Fully distributed — an ``ntile`` over a
    global window would funnel every row through ONE task's sort, the
    classic 100 TB bottleneck; the map-side partial aggregation here
    leaves each range task emitting a single row instead."""
    if num_workers <= 0:
        return []
    parts = (
        df.select(*pk_cols)
        .repartitionByRange(num_workers, *[F.col(c) for c in pk_cols])
        .withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(
            F.min(F.struct(*pk_cols)).alias("lo"),
            F.max(F.struct(*pk_cols)).alias("hi"),
        )
        .orderBy("__pid")
        .collect()
    )
    return [
        DeleteRange(tuple(r.lo), tuple(r.hi))
        for r in parts
        if r.lo is not None and r.hi is not None
    ]


def delete_by_range(df: DataFrame, pk_cols: list[str], ranges: list[DeleteRange]) -> DataFrame:
    """W5: survivors after deleting every key range — negated pushed-down
    predicate, no join, no shuffle.

    NULL-pk rows make the range predicate NULL, and a bare ``~pred``
    filter would silently DROP them; a NULL key is in no range, so such
    rows must survive — hence the coalesce to true."""
    doomed = None
    for r in ranges:
        pred = lexicographic_range_predicate(pk_cols, r.begin_key, r.end_key)
        doomed = pred if doomed is None else (doomed | pred)
    if doomed is None:
        return df
    return df.filter(F.coalesce(~doomed, F.lit(True)))


def delete_by_keys(target: DataFrame, doomed_keys: DataFrame, pk_cols: list[str]) -> DataFrame:
    """P5/W5: delete-by-key as a left-anti join (the reference's per-row
    ``DELETE WHERE pk=?`` loop, REF/data/DeleteWorker.java:52-61).  Small
    key sets broadcast automatically.  The survivors keep the target's
    column order: a join on column names moves the keys to the front,
    and a positional writer or reader would then misplace them."""
    survivors = target.join(doomed_keys.select(*pk_cols), on=pk_cols, how="left_anti")
    return survivors.select(*target.columns)


def delete_strategy(record_count: int) -> str:
    """W6 threshold decision (REF/data/TableDeleter.java:28-40)."""
    return "single_statement" if record_count < SINGLE_DELETE_THRESHOLD else "ranged"


def delete_pipeline(
    target: DataFrame,
    pk_cols: list[str],
    doomed_keys: DataFrame,
    num_workers: int = 10,
) -> DataFrame:
    """Full delete flow: the survivors frame (caller overwrites storage
    with it), one anti-join whatever the number of doomed keys.

    The reference forks on :func:`delete_strategy` because a JDBC sink
    deletes in place, one statement per key range.  A rewrite reads the
    target once either way: a ranged plan only adds a key-range sampling
    job and a second scan of the in-range rows, for the same survivors.
    ``num_workers`` is accepted for callers that still pass the
    reference's worker count; it has no effect.
    """
    return delete_by_keys(target, doomed_keys, pk_cols)
