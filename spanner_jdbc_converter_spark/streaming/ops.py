"""Streaming transformations + their batch equivalents.

Every operator is written against a plain DataFrame, so the same function
body serves both ``spark.read`` (batch / oracle check) and
``spark.readStream`` (incremental) inputs — the Structured Streaming
guarantee that a streaming query computes the same answer as the batch
query on the same data is exactly what the tests assert.

Scale notes: watermarks bound state (late events beyond the watermark are
dropped, windows are finalized and evicted); grouped state in
``running_user_counts`` is per-user and O(users), not O(events).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spanner_jdbc_converter_spark.catalog import load_table

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

DEFAULT_WATERMARK = "10 minutes"


def _values_in_event_order(batches: Iterator["pd.DataFrame"]) -> "pd.Series":
    """Merge a key's Arrow chunk iterator and return the ``value`` column
    in global (ts, event_id) order.

    One key's rows within a micro-batch can span several Arrow chunks;
    sorting each chunk independently would only order WITHIN a chunk,
    so a sequential fold (EWMA / CUSUM) would silently depend on chunk
    boundaries and the bit-identical-to-batch determinism claim would
    break exactly when groups grow past one chunk.  Concatenate first,
    sort ONCE per key."""
    import pandas as pd

    chunks = [pdf for pdf in batches if len(pdf)]
    if not chunks:
        return pd.Series([], dtype="float64")
    merged = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    return merged.sort_values(["ts", "event_id"])["value"]


def read_events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events fixture: same event-time
    normalization as the batch loader (bigint ns on Spark 3.x /
    TIMESTAMP_NTZ on Spark 4.x → TIMESTAMP, see catalog.load_table)."""
    from spanner_jdbc_converter_spark.catalog import _normalize_event_time

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source wants a directory; pathGlobFilter selects the table
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_event_time(stream)


# -- windowed aggregations (same body for batch + streaming) ----------------


def tumbling_counts(
    events: DataFrame,
    size: str = "1 hour",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def sliding_counts(
    events: DataFrame,
    size: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Watermarked sliding-window counts (each event lands in size/slide
    overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_counts(
    events: DataFrame,
    gap: str = "2 hours",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Per-user session windows (gap-merged); end = last event + gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming exact dedup on event_id; the watermark bounds the dedup
    state (ids older than the watermark are evicted — at 100 TB/day this
    is the only dedup that doesn't grow without bound)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def interval_join(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
    lookback: str = "2 hours",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Stream-stream interval join: each ``left_type`` event matched to
    the same user's ``right_type`` events in the preceding ``lookback``
    — the attribution shape (purchase ← recent clicks).

    In streaming execution both sides carry watermarks and the join
    condition bounds event time on both sides, so Spark can size the
    join state and evict rows older than watermark + lookback — without
    the time bounds a stream-stream join would buffer both streams
    forever.  The same body is the batch twin (plain self-join with a
    range predicate) checked by the oracle corpus."""
    l = events.filter(F.col("event_type") == left_type).select(
        F.col("event_id").alias("l_event_id"),
        F.col("user_id").alias("l_user_id"),
        F.col("ts").alias("l_ts"),
    )
    r = events.filter(F.col("event_type") == right_type).select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", watermark)
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    return l.join(r, cond).select(
        "l_event_id",
        F.col("l_user_id").alias("user_id"),
        "l_ts",
        "r_event_id",
        "r_ts",
        (F.unix_micros(F.col("l_ts")) - F.unix_micros(F.col("r_ts"))).alias("lag_us"),
    )


# -- custom stateful operator ----------------------------------------------

_RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def running_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: running per-user event count +
    value sum via applyInPandasWithState (the reference has no analog —
    SURVEY.md §2.10 parity addition).

    State is one (count, sum) pair per user — O(users) memory regardless
    of stream length."""

    def update(
        key: tuple,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "value_sum": [s]})

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_EWMA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)
_EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("num", T.DoubleType()),
        T.StructField("den", T.DoubleType()),
    ]
)


def running_user_ewma(events: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Custom stateful streaming operator #2: EXACT per-user EWMA by the
    sequential recurrence (num_t = x_t + (1-α)·num_{t-1},
    den_t = 1 + (1-α)·den_{t-1}, ewma = num/den — pandas adjust=True
    semantics), via applyInPandasWithState.

    This is the streaming complement of the BATCH entry
    events_ewma_smoothing (plans/behavior.py), which must truncate the
    recurrence to a bounded lag window to stay distributable; a stream
    processes each key's events in arrival order, so the true
    recurrence costs O(1) state per key — (n, num, den) three numbers —
    and the two agree to below the truncation tail (≈(1-α)^20) on the
    same data.  Rows within a micro-batch are folded in (ts, event_id)
    order so the result is deterministic per batch."""

    def update(
        key: tuple,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, num, den = state.get if state.exists else (0, 0.0, 0.0)
        for x in _values_in_event_order(batches):
            num = float(x) + (1.0 - alpha) * num
            den = 1.0 + (1.0 - alpha) * den
            n += 1
        state.update((n, num, den))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma": [num / den if den else None],
            }
        )

    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_EWMA_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_CUSUM_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("cusum", T.DoubleType()),
        T.StructField("alarm", T.BooleanType()),
    ]
)
_CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def running_user_cusum(events: DataFrame, k: float, h: float) -> DataFrame:
    """Custom stateful streaming operator #3: one-sided upper CUSUM
    change-point detection per user — s_i = max(0, s_{i-1} + v_i − k),
    alarm while s > h — via applyInPandasWithState.

    This is the streaming twin of the BATCH entry events_cusum_alarms
    (operators/sessions.py::cusum_alarms): the recurrence is inherently
    sequential per entity, which a stream gets for free in arrival
    order at O(1) state per key — (n, s), two numbers — where the batch
    form pays one Arrow group per entity.  ``k`` (slack) and ``h``
    (decision interval) arrive as plain floats: change detection runs
    against a FROZEN baseline (computed batch-side from the corpus
    moments), never against the drifting stream itself.  Rows within a
    micro-batch fold in (ts, event_id) order so the walk is
    deterministic and bit-identical to the batch recurrence on the same
    data."""

    def update(
        key: tuple,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for x in _values_in_event_order(batches):
            s = max(0.0, s + float(x) - k)
            n += 1
        state.update((n, s))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "cusum": [s],
                "alarm": [s > h],
            }
        )

    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_CUSUM_SCHEMA,
            stateStructType=_CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# -- incremental sink -------------------------------------------------------


_PATTERN_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_event_id", T.LongType()),
        T.StructField("trigger_us", T.LongType()),
        T.StructField("gap_us", T.LongType()),
    ]
)
_PATTERN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_click", T.LongType()),
        T.StructField("last_error", T.LongType()),
    ]
)


def running_pattern_match(
    events: DataFrame, window_us: int = 3_600_000_000
) -> DataFrame:
    """Custom stateful streaming operator #4: CEP sequence detection —
    ``click → purchase within window_us with NO error between`` — the
    streaming twin of the batch entry events_pattern_match
    (plans/behavior.py).

    The batch form needs two conditional running-MAX window columns;
    the stream gets the same walk for free in arrival order at O(1)
    state per key — (last_click_us, last_error_us), two longs with a
    −1 "never seen" sentinel.  Rows within a micro-batch fold in
    (ts, event_id) order (the _values_in_event_order discipline:
    concatenate the Arrow chunks FIRST, sort once), and a same-µs
    click with a smaller event_id counts as "before" exactly like the
    batch frame's (µs, event_id) total order, so on in-order file
    delivery the emitted matches are INTEGER-identical to the batch
    entry.  Every value is exact µs — nothing to round, the strongest
    cross-check in the streaming family."""

    def update(
        key: tuple,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        lc, le = state.get if state.exists else (-1, -1)
        chunks = [pdf for pdf in batches if len(pdf)]
        out = []
        if chunks:
            merged = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            for r in merged.sort_values(["us", "event_id"]).itertuples():
                us = int(r.us)
                if r.event_type == "purchase":
                    if lc >= 0 and us - lc <= window_us and (le < 0 or le < lc):
                        out.append((key[0], int(r.event_id), lc, us - lc))
                elif r.event_type == "click":
                    lc = us
                elif r.event_type == "error":
                    le = us
        state.update((lc, le))
        yield pd.DataFrame(
            out, columns=["user_id", "purchase_event_id", "trigger_us", "gap_us"]
        )

    return (
        events.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_PATTERN_SCHEMA,
            stateStructType=_PATTERN_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SILENCE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_silent", T.LongType()),
        T.StructField("n_runs", T.LongType()),
        T.StructField("longest_run", T.LongType()),
        T.StructField("lead_silent", T.LongType()),
        T.StructField("tail_silent", T.LongType()),
    ]
)
_SILENCE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_silent", T.LongType()),
        T.StructField("n_runs", T.LongType()),
        T.StructField("cur_run", T.LongType()),
        T.StructField("longest", T.LongType()),
        T.StructField("lead", T.LongType()),
    ]
)


def running_silence_runs(frames: DataFrame, threshold: int) -> DataFrame:
    """Custom stateful streaming operator: silence segmentation over a
    stream of per-frame energies — the streaming twin of the BATCH
    entry multimodal_audio_silence
    (operators/multimodal.py::silence_stats).  State per clip is SIX
    longs; a frame is silent when its exact-integer energy sits under
    ``threshold``.  lead_silent freezes once the first loud frame
    arrives; tail_silent is the currently-open silent run at emit time
    (exactly the batch definition on complete data).  Rows within a
    micro-batch fold in frame_index order, so on in-order delivery the
    final card is INTEGER-identical to the batch operator — asserted in
    tests/test_streaming.py with clips split across micro-batches."""

    def update(
        key: tuple,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.exists:
            n_frames, n_silent, n_runs, cur_run, longest, lead = state.get
        else:
            n_frames, n_silent, n_runs, cur_run, longest, lead = (0,) * 6
        pdf = pd.concat(list(batches), ignore_index=True).sort_values(
            "frame_index"
        )
        for e in pdf["energy"]:
            silent = int(e) < threshold
            if silent:
                n_silent += 1
                if cur_run == 0:
                    n_runs += 1
                cur_run += 1
                longest = max(longest, cur_run)
                if lead == n_frames:  # still in the leading run
                    lead += 1
            else:
                cur_run = 0
            n_frames += 1
        state.update((n_frames, n_silent, n_runs, cur_run, longest, lead))
        yield pd.DataFrame(
            {
                "doc_id": [key[0]],
                "n_frames": [n_frames],
                "n_silent": [n_silent],
                "n_runs": [n_runs],
                "longest_run": [longest],
                "lead_silent": [lead],
                "tail_silent": [cur_run],
            }
        )

    return (
        frames.select("doc_id", "frame_index", "energy")
        .groupBy("doc_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SILENCE_SCHEMA,
            stateStructType=_SILENCE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SCENE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_scenes", T.LongType()),
        T.StructField("longest_scene", T.LongType()),
    ]
)
_SCENE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_hash", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_scenes", T.LongType()),
        T.StructField("cur_len", T.LongType()),
        T.StructField("longest", T.LongType()),
    ]
)


def running_scene_cuts(frames: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Custom stateful streaming operator: scene-cut detection over a
    stream of per-frame perceptual hashes — the streaming twin of the
    BATCH entry multimodal_video_scenes
    (operators/multimodal.py::frame_scene_stats).  State per clip is
    FIVE longs (last hash, frame count, scene count, current/longest
    run) regardless of clip length; a frame whose 56-bit hash sits more
    than ``max_hamming`` XOR-popcount bits from its predecessor opens a
    scene.  Rows within a micro-batch fold in frame_index order (the
    _values_in_event_order discipline: concatenate chunks, then one
    global sort per key), so on in-order delivery across batches the
    emitted card is INTEGER-identical to the batch operator on the same
    frames — asserted in tests/test_streaming.py.

    The live-ingest use: a video pipeline fingerprints frames as clips
    land and needs shot boundaries incrementally (for sampling or
    thumbnailing) without re-decoding the growing store — exactly what
    bounded per-clip state buys at 100 TB."""

    def update(
        key: tuple,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.exists:
            last_hash, n_frames, n_scenes, cur_len, longest = state.get
        else:
            last_hash, n_frames, n_scenes, cur_len, longest = (-1, 0, 0, 0, 0)
        pdf = pd.concat(list(batches), ignore_index=True).sort_values(
            "frame_index"
        )
        for h in pdf["fdhash"]:
            h = int(h)
            cut = last_hash < 0 or bin(last_hash ^ h).count("1") > max_hamming
            if cut:
                n_scenes += 1
                cur_len = 1
            else:
                cur_len += 1
            longest = max(longest, cur_len)
            n_frames += 1
            last_hash = h
        state.update((last_hash, n_frames, n_scenes, cur_len, longest))
        yield pd.DataFrame(
            {
                "doc_id": [key[0]],
                "n_frames": [n_frames],
                "n_scenes": [n_scenes],
                "longest_scene": [longest],
            }
        )

    return (
        frames.select("doc_id", "frame_index", "fdhash")
        .groupBy("doc_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SCENE_SCHEMA,
            stateStructType=_SCENE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_cms_cells(events: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Streaming count-min sketch maintenance: the batch grid operator
    (operators/sketches.py::cms_cells — same md5 hash family, same
    DEPTH x WIDTH grid) applied to the unbounded stream.  Spark's
    native stateful aggregation keeps the running cell counts in
    update/complete mode, and because the grid is the aggregation key
    space, state is bounded at DEPTH*WIDTH rows REGARDLESS of stream
    length or key cardinality — the sketch is precisely the
    state-bounding move for heavy-hitter tracking over unbounded keys
    (a per-key running count would grow without limit).

    Heavy hitters are read from the sink snapshot by joining candidate
    keys through sketches.cms_estimates' probe side; grid counts are
    exact integers, so the streaming twin equals the batch grid
    bit-for-bit once the bounded source drains."""
    from spanner_jdbc_converter_spark.operators import sketches as sk

    return sk.cms_cells(events, F.col(key_col))


def upsert_stream_to_parquet(
    stream_df: DataFrame,
    dest_path: str,
    pk_cols: list[str],
    checkpoint_dir: str,
):
    """Streaming merge/upsert sink via foreachBatch — the streaming analog
    of the reference's copy loop (REF/data/DataCopier.java:45-85): each
    micro-batch is deduped on the key and MERGEd into the destination
    (batch rows win on key match, older destination rows survive).

    foreachBatch is the standard Structured Streaming pattern for sinks
    without native streaming support; exactly-once comes from the
    checkpoint (batch replays re-merge idempotently — merge_upsert of the
    same batch twice equals once).  The rewrite goes through a temp dir,
    then a rename-aside swap: the old destination moves to ``._old``,
    the fresh tree renames into place, and only then is the old copy
    deleted — a crash at ANY point leaves a complete tree at a
    predictable path (``dest`` or ``dest._old``), never a half-written
    destination.  A leftover ``._old`` from a previous crash is cleared
    on the next batch.  Local-FS path handling; a cluster deployment
    swaps in a transactional table format (Delta/Iceberg MERGE) and
    keeps this orchestration.

    Returns the started StreamingQuery (caller awaits termination)."""
    import os
    import shutil

    from spanner_jdbc_converter_spark.copy import merge_upsert

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(pk_cols)
        if os.path.exists(dest_path):
            merged = merge_upsert(spark.read.parquet(dest_path), batch, pk_cols)
        else:
            merged = batch
        base = dest_path.rstrip("/")
        tmp = base + f"._upsert_tmp_{batch_id}"
        old = base + "._old"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(old):  # debris from a crash between the renames
            shutil.rmtree(old)
        had_dest = os.path.exists(dest_path)
        if had_dest:
            os.rename(dest_path, old)
        os.rename(tmp, dest_path)
        if had_dest:
            shutil.rmtree(old)

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# -- harness ----------------------------------------------------------------


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming query on a bounded source to completion and
    return the materialized result from the memory sink."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    return spark.table(query_name)


def load_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def dedup_last_wins(
    batch_df: DataFrame, pk_cols: list[str], order_col: str | None = None
) -> DataFrame:
    """Deterministic per-key survivor for a micro-batch: each key keeps
    the row with the greatest (``order_col``, non-pk-columns) struct —
    last-writer-wins when an ordering column is given, and a stable
    canonical tiebreak either way, independent of partitioning.  The
    determinism is what makes checkpoint-replayed MERGEs idempotent
    (see upsert_stream_to_jdbc)."""
    cols = batch_df.columns
    if order_col and order_col not in cols:
        # A typo'd ordering column must fail loudly, not quietly
        # degrade last-writer-wins to the canonical tiebreak.
        raise ValueError(f"order_col {order_col!r} not in batch columns {cols}")
    rank_cols = [c for c in ([order_col] if order_col else []) if c in cols]
    rank_cols += [c for c in cols if c not in pk_cols and c not in rank_cols]
    if not rank_cols:  # pk-only schema: rows are identical per key
        return batch_df.dropDuplicates(pk_cols)
    winner = F.max(F.struct(*rank_cols)).alias("__w")
    return (
        batch_df.groupBy(*pk_cols)
        .agg(winner)
        .select(*pk_cols, *[F.col(f"__w.{c}").alias(c) for c in rank_cols])
        .select(*cols)
    )


def upsert_stream_to_jdbc(
    stream_df: DataFrame,
    url: str,
    table: str,
    pk_cols: list[str],
    checkpoint_dir: str,
    driver: str | None = None,
    order_col: str | None = None,
):
    """Streaming merge/upsert into a LIVE JDBC destination — the CDC
    bridge between the streaming layer and the converter's JDBC side:
    each micro-batch lands in a staging table via the batched parallel
    writer (copy.write_jdbc), then ONE server-side ``MERGE`` folds it
    into the destination (batch rows win on key match).

    Exactly-once: the checkpoint replays failed batches, and replaying
    the same batch re-MERGEs identical rows into identical state — the
    same idempotence argument as the parquet sink above, but with the
    destination database's own atomicity guarding each merge (no swap
    dance needed).  For that argument to hold, the intra-batch survivor
    per key must be DETERMINISTIC: ``dropDuplicates`` keeps an
    arbitrary row, so a replay could merge a different payload than the
    original run.  Instead each key keeps the row with the greatest
    (``order_col``, non-pk-columns) struct — last-writer-wins when an
    ordering column is given, and a stable canonical tiebreak either
    way, independent of partitioning (requires orderable column types,
    which JDBC-writable schemas are).  The first batch creates the
    destination directly.  MERGE is ANSI (Derby ≥10.11, PostgreSQL ≥15,
    Spanner-compatible engines expose equivalent mutations);
    per-dialect upsert SQL would slot in here.

    The staging table name carries a checkpoint-derived tag + batch id,
    so concurrent streams upserting the same destination cannot clobber
    each other mid-MERGE, and a crash between MERGE and DROP leaves a
    uniquely-named leftover that the batch replay itself re-creates
    (write_jdbc drops any existing staging first) and then drops.

    Returns the started StreamingQuery (caller awaits termination)."""
    import hashlib

    from spanner_jdbc_converter_spark.converter import (
        _jdbc_connection,
        list_jdbc_tables,
    )

    if order_col and order_col not in stream_df.columns:
        # fail at CALL time, not on the first micro-batch after the
        # stream has started and checkpoint state exists
        raise ValueError(
            f"order_col {order_col!r} not in stream columns {stream_df.columns}"
        )
    from spanner_jdbc_converter_spark.copy import write_jdbc

    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8].upper()

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = dedup_last_wins(batch_df, pk_cols, order_col)
        staging = f"{table}_STAGE_{ck_tag}_{batch_id}"
        existing = {t.lower() for t in list_jdbc_tables(spark, url, driver=driver)}
        # drop stale staging tables from THIS stream's lineage (crash
        # between MERGE and DROP in an earlier batch) — other streams'
        # tags are never touched
        stale_prefix = f"{table}_STAGE_{ck_tag}_".lower()
        stale = [
            t for t in existing
            if t.startswith(stale_prefix) and t != staging.lower()
        ]
        if stale:
            conn = _jdbc_connection(spark, url, driver)
            try:
                for t in stale:
                    conn.createStatement().executeUpdate(f"DROP TABLE {t}")
            finally:
                conn.close()
        if table.lower() not in existing:
            write_jdbc(batch, url, table, driver=driver)
            return
        write_jdbc(batch, url, staging, driver=driver)
        # Spark's JDBC writer emits table names UNQUOTED (the database
        # case-folds them) but COLUMN names quoted case-preserving — the
        # MERGE must match both conventions or lookups miss.
        def q(ident: str) -> str:
            return '"' + ident + '"'

        cols = batch.columns
        on = " AND ".join(f"t.{q(c)} = s.{q(c)}" for c in pk_cols)
        sets = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in cols if c not in pk_cols)
        ins_cols = ", ".join(q(c) for c in cols)
        ins_vals = ", ".join(f"s.{q(c)}" for c in cols)
        stmt = (
            f"MERGE INTO {table} t USING {staging} s ON {on} "
            + (f"WHEN MATCHED THEN UPDATE SET {sets} " if sets else "")
            + f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
        )
        conn = _jdbc_connection(spark, url, driver)
        try:
            conn.createStatement().executeUpdate(stmt)
            conn.createStatement().executeUpdate(f"DROP TABLE {staging}")
        finally:
            conn.close()

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def running_quantile_cells(events: DataFrame, value_col: str = "value") -> DataFrame:
    """Streaming log-bucket quantile-sketch maintenance: the batch cell
    operator (operators/sketches.py::logbucket_cells — same integer
    bit-length bucketing) applied to the unbounded stream's value
    column scaled to exact integer cents.  Native stateful aggregation
    keeps the running cell counts in complete mode, and because the
    log-bucket grid is the aggregation key space, state is bounded at
    ≤ 64·2^QSK_SUBBITS rows regardless of stream length or value range
    — the same state-bounding move as the CMS twin, here for rank
    statistics (p50/p99 monitoring over an unbounded metric stream).

    Quantiles are read from the sink snapshot via the batch estimate
    walk; cells are exact integers, so the streaming twin equals the
    batch grid bit-for-bit once the bounded source drains."""
    from spanner_jdbc_converter_spark.operators import sketches as sk

    units = F.col(value_col).cast("decimal(18,2)") * 100
    return sk.logbucket_cells(events, units)
