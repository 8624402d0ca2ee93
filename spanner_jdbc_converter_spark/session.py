"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
config here is chosen to also be the right default on a large cluster:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are exactly the knobs that keep a
  100 TB shuffle healthy without hand-tuning per query.
* ``spark.sql.shuffle.partitions`` — a *starting* value; AQE coalesces
  down.  On a real cluster this would be ~2-3× total cores.
* Arrow enabled — every pandas UDF / toPandas crossing is Arrow-batched.
* ``parquet.nanosAsLong`` — Spark 3.x compat only: the ``events``
  fixture carries TIMESTAMP(NANOS); on 3.x we read the raw int64 and
  convert with integer division.  On Spark 4.x the conf is inert and
  the column reads as TIMESTAMP_NTZ instead — ``catalog.load_table``
  normalizes both shapes to TIMESTAMP.
* Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive timestamps) regardless of machine TZ.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def session_shuffle_width(spark: SparkSession) -> int:
    """The session's configured shuffle width — the explicit partition
    count for spreading CPU-bound Python stages (Arrow decode passes,
    applyInPandas group walks) ahead of their exchange.

    Why explicit: AQE's coalescing is BYTE-sized (advisory partition
    size), which is right for shuffle cost but wrong for a CPU-bound
    stage — at fixture scale a few-MB exchange coalesces to 1-2
    partitions and the Python stage runs near-serial (measured r17:
    the debounce walk 4.26 s on 2 AQE-coalesced partitions vs 1.21 s
    on the explicit width).  The conf is the per-cluster knob
    (~2-3× total cores in production; the local default is the core
    count), so the spread stays scale-adaptive rather than tuned to
    either environment.  Falls back to the cluster default parallelism
    when a foreign session carries a non-integer conf value ("auto"
    under some AQE managers — ADVICE r15)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


#: Held while a thread flips session-global SQL conf (planning_scale_rounds)
#: or runs jobs on other driver threads (stage), so neither runs while the
#: other is active; the holder may nest both.
SESSION_CONF_LOCK = threading.RLock()


def stage(*frames: DataFrame) -> tuple[DataFrame, ...]:
    """Materialize each frame now and cut its lineage; returns the
    checkpointed frames in argument order.  This is the one eager stage
    barrier of the package: operators call it on a frame that feeds
    several consumers, or on a loop round whose plan would otherwise
    grow with every iteration.

    Checkpoints are executor-local: they need no configuration and are
    cleaned up with the session, while reliable ones leak files unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.

    Several frames are checkpointed at the same time, one driver thread
    each: an eager checkpoint blocks its thread, and the scheduler can
    back-fill one job's straggler tail with another's tasks, so the wall
    is the slowest job rather than the sum.  Callers pass only frames
    that do not read one another.  The threads are
    ``pyspark.InheritableThread`` so their jobs keep the caller's job
    group, tags and scheduler pool.  The calling thread holds
    SESSION_CONF_LOCK while they run, so a :func:`planning_scale_rounds`
    scope on another thread cannot switch AQE off under these jobs.  If
    several frames fail, the first error is raised with the others
    attached as notes."""
    if len(frames) == 1:
        return (frames[0].localCheckpoint(eager=True),)
    from pyspark import InheritableThread

    results: list = [None] * len(frames)
    errors: list[BaseException] = []

    def _run(i: int, df: DataFrame) -> None:
        try:
            results[i] = df.localCheckpoint(eager=True)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [
        InheritableThread(target=_run, args=(i, df)) for i, df in enumerate(frames)
    ]
    with SESSION_CONF_LOCK:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    if errors:
        first, *rest = errors
        for other in rest:
            first.add_note(
                f"another staged frame also failed: {type(other).__name__}: {other}"
            )
        raise first
    return tuple(results)


def stats_reset_checkpoint(df: DataFrame) -> DataFrame:
    """Eager local checkpoint whose optimizer size estimate is reset.

    Spark's checkpoint keeps the size estimate on the new LogicalRDD,
    and a join's estimate is the product of its children's.  A loop
    whose round reaches the previous frame through two or more joins
    therefore grows the estimate geometrically per round; after ~15
    rounds Catalyst spends its time multiplying million-digit
    BigIntegers on flat data and flat plans.  Re-wrapping the
    materialized checkpoint RDD in a fresh LogicalRDD drops the
    estimate back to the default: no extra job, same blocks.

    The re-wrap calls two JVM ``private[sql]`` members (public in
    bytecode), ``SparkSession.internalCreateDataFrame`` and
    ``QueryExecution.toRdd``.  If a Spark upgrade renames either, py4j
    raises ``Py4JError`` and the plain checkpoint is returned: deep loops
    get slower rounds, never wrong results."""
    from py4j.protocol import Py4JError

    spark = df.sparkSession
    out = df.localCheckpoint(eager=True)
    try:
        jdf = out._jdf
        fresh = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
    except Py4JError:
        return out
    return DataFrame(fresh, spark)


@contextmanager
def planning_scale_rounds(spark: SparkSession):
    """Scope for the driver-side ROUND jobs of iterative operators
    (power iteration, perceptron, farthest-point sampling): disable AQE
    for the duration and restore it on exit.

    Why (optimization r17, guide §1.2 step 3 after steps 1-2 were
    measured clean): these rounds end in a fixed ≤dim-key aggregate —
    map-side partial aggregation reduces each scan partition to ≤dim
    rows, so the reduce side is metadata-sized BY CONSTRUCTION at any
    corpus scale, skew is impossible (fixed key domain), and there is
    nothing for AQE to adapt.  What AQE does cost is a driver-side
    replan between every stage pair: measured 1.02 s vs 0.56 s per
    round job on the 64-dim fixture (×6-9 rounds per entry).  The scan
    stage underneath is unchanged — its split sizing does not come
    from AQE.  Data-scale pipelines (joins, banding, window passes)
    keep AQE; this scope is only for the planning-scale recurrences.
    The conf is session-global, hence SESSION_CONF_LOCK."""
    with SESSION_CONF_LOCK:
        old = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old)


def get_spark(
    app_name: str = "spanner-jdbc-converter-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or _default_master())
        # -- scale-oriented defaults ------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- fixture/oracle compatibility -------------------------------
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.mergeSchema", "false")
        # -- keep local runs quiet/fast ---------------------------------
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
