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

from pyspark.sql import SparkSession

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
#: or runs jobs on other driver threads (dedup._stage_checkpoints_overlapped),
#: so neither runs while the other is active; the holder may nest both.
SESSION_CONF_LOCK = threading.RLock()


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
