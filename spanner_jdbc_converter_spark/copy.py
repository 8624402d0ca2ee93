"""Bulk-copy pipeline (SURVEY.md §3.2) — the reference's DataCopier
restated as Spark jobs.

The reference runs two thread pools (10 table workers × ≤10 part workers,
REF/data/DataCopier.java:167-190, REF/data/AbstractTableWorker.java:68-93)
over OFFSET-paginated SELECTs, batching INSERTs by a byte/mutation cost
model.  In Spark the pools and pagination collapse into partitioned
read + write; what remains semantic is:

* ConvertMode orchestration (existence/emptiness gates, SURVEY.md §1.5),
* the partition-count / batch-size cost model (X4/X6) — still useful to
  size JDBC sink batches and to pick a sane write parallelism,
* metrics (ConversionResult, X7) — reported from Spark-side observed
  metrics, NOT a driver-side row loop, and with no exception swallowing
  (the reference swallows, REF/data/ConversionResult.java:31-34 — a bug
  we do not replicate).

At 100 TB the copy is: partitioned columnar scan → (optional repartition
to target file/batch sizing) → distributed write.  No driver bottleneck,
no per-row work.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spanner_jdbc_converter_spark.modes import ConvertMode, should_copy_data
from spanner_jdbc_converter_spark.modes import TableExistsError  # noqa: F401 - re-exported

# Reference defaults (REF/cfg/ConverterConfiguration.java:180-244, README.md:26-28).
DEFAULT_BATCH_BYTES = 1_500_000
DEFAULT_MAX_WORKERS = 10
DEFAULT_TABLE_WORKERS = 10
DEFAULT_JDBC_BATCH_STATEMENTS = 10_000
SPANNER_MUTATION_LIMIT = 20_000
MIN_BATCH_ROWS = 100


@dataclass
class ConversionResult:
    """REF/data/ConversionResult.java:6-91 — record/byte counts + timing.
    Exceptions propagate instead of being swallowed."""

    record_count: int = 0
    byte_count: int = 0
    start_time: float = 0.0
    end_time: float = 0.0

    @property
    def seconds(self) -> float:
        return max(self.end_time - self.start_time, 0.0)


# -- cost model (X6, A4) ----------------------------------------------------

#: Per-type byte costs from the reference's row-size estimator
#: (REF/util/ConverterUtils.java:75-116): fixed sizes + 8B/column overhead.
_TYPE_BYTES: dict[type, int] = {
    T.BooleanType: 1,
    T.DateType: 4,
    T.FloatType: 8,
    T.DoubleType: 8,
    T.ByteType: 8,
    T.ShortType: 8,
    T.IntegerType: 8,
    T.LongType: 8,
    T.TimestampType: 12,
    T.TimestampNTZType: 12,
}
_COLUMN_OVERHEAD = 8
_DEFAULT_STRING_LEN = 50  # estimator guess for unsized strings


def estimate_row_bytes(schema: T.StructType, string_len: int = _DEFAULT_STRING_LEN) -> int:
    """Static per-row byte estimate: Σ fixed type costs + 8B/column;
    NVARCHAR counts 2×len, BINARY counts len (REF/util/ConverterUtils.java:87-112)."""
    total = _COLUMN_OVERHEAD * len(schema.fields)
    for f in schema.fields:
        if isinstance(f.dataType, T.StringType):
            total += 2 * string_len
        elif isinstance(f.dataType, T.BinaryType):
            total += string_len
        else:
            total += _TYPE_BYTES.get(type(f.dataType), 8)
    return total


def actual_row_bytes_expr(schema: T.StructType):
    """A4 'actual' costing as a single JVM-side expression
    (REF/util/ConverterUtils.java:118-152) — string/binary costed by real
    length, fixed types by the table above.  Distributed, never per-row
    Python."""
    expr = F.lit(_COLUMN_OVERHEAD * len(schema.fields))
    for f in schema.fields:
        if isinstance(f.dataType, T.StringType):
            expr = expr + 2 * F.coalesce(F.length(F.col(f.name)), F.lit(0))
        elif isinstance(f.dataType, T.BinaryType):
            expr = expr + F.coalesce(F.octet_length(F.col(f.name)), F.lit(0))
        else:
            expr = expr + F.lit(_TYPE_BYTES.get(type(f.dataType), 8))
    return expr


def spanner_batch_rows(
    row_bytes: int,
    num_columns: int,
    num_indices: int = 0,
    batch_bytes: int = DEFAULT_BATCH_BYTES,
) -> int:
    """X6 mutation-budget batch sizer (REF/util/ConverterUtils.java:25-40):
    ``max(min(batchBytes/rowSize, 20000/(cols+indices)), 100)``."""
    by_bytes = batch_bytes // max(row_bytes, 1)
    by_mutations = SPANNER_MUTATION_LIMIT // max(num_columns + num_indices, 1)
    return max(min(by_bytes, by_mutations), MIN_BATCH_ROWS)


def plan_num_workers(
    record_count: int,
    batch_rows: int,
    max_workers: int = DEFAULT_MAX_WORKERS,
) -> int:
    """X4 worker sizing (REF/data/GenericJdbcTableWorker.java:68-72):
    ``min(count/batchSize + 1, maxWorkers)``."""
    return min(record_count // max(batch_rows, 1) + 1, max_workers)


def uniform_ranges(total: int, workers: int) -> list[tuple[int, int]]:
    """X4 uniform offset windows: worker i gets [i·per, min((i+1)·per, total)).

    The reference computes the last worker's count with ``Math.max`` where
    ``min`` is intended (REF/data/TableDeleter.java:101, SURVEY.md §5.2);
    this is the intended semantics.
    """
    if total <= 0 or workers <= 0:
        return []
    per = math.ceil(total / workers)
    out = []
    for i in range(workers):
        lo = i * per
        if lo >= total:
            break
        out.append((lo, min(lo + per, total)))
    return out


def jdbc_read_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = DEFAULT_MAX_WORKERS,
    fetch_size: int = DEFAULT_JDBC_BATCH_STATEMENTS,
) -> dict[str, str]:
    """S5 partitioned JDBC scan options — Spark generates range predicates
    per partition, strictly better than the reference's LIMIT/OFFSET
    pagination (no O(offset) re-scans, one consistent split plan)."""
    opts = {"url": url, "dbtable": table, "fetchsize": str(fetch_size)}
    if partition_column is not None:
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def jdbc_write_options(
    url: str,
    table: str,
    batch_rows: int,
    num_partitions: int = DEFAULT_MAX_WORKERS,
) -> dict[str, str]:
    """W4 batched-write options: the cost-model batch feeds ``batchsize``
    (the reference's addBatch/executeBatch chunking,
    REF/data/AbstractTablePartWorker.java:84-102)."""
    return {
        "url": url,
        "dbtable": table,
        "batchsize": str(batch_rows),
        "numPartitions": str(num_partitions),
    }


#: Embedded JDBC driver that ships inside Spark's own jars (Derby backs
#: the Hive metastore) — gives the JDBC read/write path a REAL database
#: to run against even in an offline sandbox.
DERBY_EMBEDDED_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    driver: str | None = None,
    num_partitions: int = DEFAULT_MAX_WORKERS,
) -> int:
    """W4 live: batched parallel JDBC write — the reference's
    addBatch/executeBatch upload loop (REF/data/AbstractTablePartWorker.java:84-102)
    as Spark's JDBC sink.  Each of ``num_partitions`` tasks opens one
    connection and batches ``batchsize`` rows per executeBatch, with the
    batch size from the same byte/mutation cost model the reference uses
    (X6).  Returns the batch size used.  It always replaces the table:
    whether to write is the caller's ConvertMode decision, and Spark's
    "ignore"/"error" would skip or refuse an existing EMPTY table."""
    batch_rows = spanner_batch_rows(estimate_row_bytes(df.schema), len(df.columns))
    opts = jdbc_write_options(url, table, batch_rows, num_partitions)
    if driver:
        opts["driver"] = driver
    df.write.format("jdbc").options(**opts).mode("overwrite").save()
    return batch_rows


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = DEFAULT_MAX_WORKERS,
    driver: str | None = None,
) -> DataFrame:
    """S5 live: (optionally range-partitioned) JDBC scan.  With a
    partition column, Spark issues one bounded-range SELECT per
    partition — the reference's OFFSET pagination without the O(offset)
    re-scans (REF/data/UploadWorker.java:50-72)."""
    opts = jdbc_read_options(
        url, table, partition_column, lower_bound, upper_bound, num_partitions
    )
    if driver:
        opts["driver"] = driver
    return spark.read.format("jdbc").options(**opts).load()


# -- copy orchestration -----------------------------------------------------


def _dest_state(spark: SparkSession, dest_path: str) -> tuple[bool, bool]:
    """(exists, empty) for a parquet destination.  A directory without
    parquet files is an existing empty table; any other read failure,
    such as a corrupt part file, propagates rather than reading as
    "absent" (which would let SKIP_EXISTING skip the table silently)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(dest_path)
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return False, True
        if exc.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return True, True
        raise
    return True, df.isEmpty()


def copy_table(
    spark: SparkSession,
    source: DataFrame,
    dest_path: str,
    mode: ConvertMode = ConvertMode.SKIP_EXISTING,
    target_partitions: int | None = None,
) -> ConversionResult:
    """One table through the ConvertMode × existence/emptiness gate
    (REF/data/DataCopier.java:45-85), writing parquet.

    Only SKIP_EXISTING and THROW_IF_EXISTS decide from the destination,
    so only they probe it.

    The reference's phase-1 "prepare" (COUNT + partition planning) is
    Spark's job planning; phase-2 "execute" is the write job.  Counting
    and byte metrics ride the same job via observed metrics — zero extra
    passes over the data.
    """
    result = ConversionResult(start_time=time.time())
    reads_dest = mode in (ConvertMode.SKIP_EXISTING, ConvertMode.THROW_IF_EXISTS)
    empty = _dest_state(spark, dest_path)[1] if reads_dest else True
    if not should_copy_data(mode, empty, dest_path):
        result.end_time = time.time()
        return result

    from pyspark.sql import Observation

    obs = Observation()
    observed = source.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(actual_row_bytes_expr(source.schema)).alias("bytes"),
    )
    if target_partitions:
        observed = observed.repartition(target_partitions)
    # The copy decision is made above; "ignore"/"error" would re-decide it
    # by path existence and skip or refuse an existing EMPTY destination.
    observed.write.mode("overwrite").parquet(dest_path)

    metrics = obs.get
    result.record_count = metrics["rows"] or 0
    result.byte_count = metrics["bytes"] or 0
    result.end_time = time.time()
    return result


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table write — the co-located-join layout.

    Two tables bucketed on the same join key with the same bucket count
    join WITHOUT any exchange: each task reads matching buckets from
    both sides.  At 100 TB this converts the biggest recurring fact⋈fact
    shuffle into a scan-local join; ``sort_cols`` additionally
    pre-sorts within buckets so the sort-merge join skips its sort.
    (tests/test_copy_delete.py asserts the exchange-free plan.)"""
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


# ---------------------------------------------------------------------------
# Incremental copy — change detection + upsert.  The reference only does
# full drop-and-reload (ConvertMode, SURVEY.md §1.5); re-syncing 100 TB
# that way is a non-starter, so the engine adds the CDC-shaped pair:
# diff source vs destination snapshot, then merge only the changes.
# ---------------------------------------------------------------------------

#: Field / null sentinels for the row checksum (unit-separator, NUL) and
#: the escape char (STX) that keeps them unforgeable from data.
_HASH_FIELD_SEP = "\x1f"
_HASH_NULL = "\x00"
_HASH_ESC = "\x02"


def row_hash(cols: list[str]):
    """Portable 60-bit row checksum over the given columns: md5 of the
    unit-separator-joined string forms, NULs standing in for NULLs.

    Values are escaped before joining (``\\x02``→``\\x02\\x02``,
    ``\\x1f``→``\\x02u``, ``\\x00``→``\\x02z``) so a value CONTAINING the
    separator or null sentinel cannot forge a column boundary — without
    this, ("a\\x1fb", "c") and ("a", "b\\x1fc") hash identically and the
    diff misses real changes.

    One hash per row replaces a wide all-columns comparison in the diff
    join — the shuffle carries (pk, 8-byte hash) instead of every
    compared column.  String rendering must agree across engines, so
    restrict compared columns to types with identical casts (strings,
    integers); a DuckDB twin must apply the same three replaces."""
    from spanner_jdbc_converter_spark.functions.hashing import md5_long

    def canon(c: str):
        s = F.col(c).cast("string")
        s = F.replace(s, F.lit(_HASH_ESC), F.lit(_HASH_ESC + _HASH_ESC))
        s = F.replace(s, F.lit(_HASH_FIELD_SEP), F.lit(_HASH_ESC + "u"))
        s = F.replace(s, F.lit(_HASH_NULL), F.lit(_HASH_ESC + "z"))
        return F.coalesce(s, F.lit(_HASH_NULL))

    return md5_long(F.concat_ws(_HASH_FIELD_SEP, *[canon(c) for c in cols]))


def incremental_diff(
    src: DataFrame,
    dst: DataFrame,
    pk_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Classify every key as insert / update / delete between a source
    and a destination snapshot; unchanged keys are dropped.

    Plan shape: each side reduces to (pk, hash) in its scan projection,
    then ONE full-outer shuffle join on pk — the minimum data movement a
    content diff can do.  Output: pk columns + ``change_type``."""
    s = src.select(*pk_cols, row_hash(compare_cols).alias("_src_hash"))
    d = dst.select(*pk_cols, row_hash(compare_cols).alias("_dst_hash"))
    j = s.join(d, pk_cols, "full_outer")
    change = (
        F.when(F.col("_dst_hash").isNull(), F.lit("insert"))
        .when(F.col("_src_hash").isNull(), F.lit("delete"))
        .when(F.col("_src_hash") != F.col("_dst_hash"), F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*pk_cols, "change_type")
    )


def merge_upsert(target: DataFrame, updates: DataFrame, pk_cols: list[str]) -> DataFrame:
    """MERGE semantics over immutable storage: updates win on key match,
    unmatched target rows survive, unmatched updates insert.

    The anti join projects the update side to keys only before the
    probe; a small update batch broadcasts, so the target is a single
    scan + filter — at 100 TB the typical incremental merge touches the
    target once, shuffles nothing."""
    survivors = target.join(updates.select(*pk_cols), pk_cols, "left_anti")
    return survivors.unionByName(updates)
