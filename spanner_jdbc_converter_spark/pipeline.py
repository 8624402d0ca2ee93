"""End-to-end training-data curation pipeline: the operator corpus
composed into the workflow the engine exists for.

``curate_documents`` chains the production stages over a documents
frame — profile → quality filter → exact (fingerprint) dedup → LSH
near-dedup with connected-component grouping → benchmark
decontamination → token-budget selection → deterministic train/val/test
split → greedy sequence packing — and returns the materialized packed
frame plus its per-stage row counts.

This is the LLM-pipeline analog of ``converter.convert_all`` (the
reference's migration orchestrator): it runs the work and returns the
finished result, so a caller holds no cache and owes no follow-up call.
Every stage reuses an operator that is independently oracle-verified in
``plans/``; the orchestrator's own tests (tests/test_pipeline.py)
assert the cross-stage invariants — determinism run-to-run, monotone
row counts, no surviving duplicate fingerprints, budget respected,
splits partitioning the selection, and bin fills bounded by capacity.

Scale notes: stages communicate only through DataFrames (one logical
plan); filters are narrow; both dedups shuffle on hash keys; selection
uses the banded prefix sum; packing shards on the composite (lang, hash)
key.  The stage counts are observed metrics, so they add no Spark job:
they ride the one eager lineage cut that materializes the output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark import session
from spanner_jdbc_converter_spark.functions.hashing import md5_long
from spanner_jdbc_converter_spark.operators import dedup as dd
from spanner_jdbc_converter_spark.operators import selection as sel
from spanner_jdbc_converter_spark.operators import text as tx


def train_val_test(id_col: Column, val_pct: int = 10, test_pct: int = 10) -> Column:
    """Deterministic split assignment: portable md5 bucket of the id —
    stable across runs, partitionings, and engines (same construction as
    select_train_val_test_split)."""
    bucket = md5_long(F.concat(F.lit("split:"), id_col.cast("string"))) % 100
    return (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )


def curate_documents(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    benchmark_pred: Column | None = None,
    quality_min: float = 0.3,
    overlap_max: float = 0.5,
    token_budget: int = 50_000,
    pack_capacity: int = 512,
    pack_shards: int = 16,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the full curation pipeline; returns (packed frame, row count
    after each stage).

    The packed frame has one row per selected document with its split
    assignment and packing coordinates: (lang, split, shard, doc_id,
    n_tokens, bin_idx, bin_fill).  It is materialized by one
    :func:`session.stage` cut, whose job computes every partition, so
    every stage count is read in full and no caller action is needed.

    The multiply-consumed stage frames are cached with MEMORY_AND_DISK
    while the pipeline runs (``exact`` feeds both the LSH pair
    generation and the survivor join; ``near`` feeds the overlap probe,
    the decontamination filter, and selection): without it the lazy plan
    re-derives the tokenizer/fingerprint subtree once per consumer.
    Disk-backed, so safe at scale.  The cache is also what makes each
    count exact: the observation wraps each frame BEFORE its persist, so
    the metric node lives inside the cached plan and fires exactly once
    (block-level cache locking computes each cached partition once even
    with concurrent consumers); uncached, a frame consumed by several
    branches would re-plan its CollectMetrics subtree per consumer.  The
    caches are released before returning, also when the build fails.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    observed: list[tuple[str, Observation, DataFrame]] = []
    cached: list[DataFrame] = []

    def observe(name: str, df: DataFrame) -> DataFrame:
        # the RETURNED frame must be the one consumed downstream, or the
        # metric never fires
        obs = Observation()
        observed.append((name, obs, df))
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    def staged(name: str, df: DataFrame) -> DataFrame:
        out = observe(name, df).persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(out)
        return out

    try:
        docs = observe("input", docs)

        # 1. profile: token/quality/lang features from ONE staged
        #    tokenizer, cached once here so no later stage re-tokenizes.
        profiled = tx.document_profile(docs, text_col)
        flt = staged("quality_filter", profiled.filter(F.col("quality") >= quality_min))

        # 2. exact dedup on normalized-content fingerprint (min-id keeper).
        exact = staged("exact_dedup", dd.fingerprint_dedup(flt, text_col, id_col))

        # 3. near-dedup: LSH candidates → connected components → keep the
        #    min-id representative of every near-dup group.
        pairs = dd.lsh_candidate_pairs(exact, text_col, id_col)
        groups = dd.connected_groups(pairs)  # (doc_id, group_id)
        losers = groups.filter(F.col("doc_id") != F.col("group_id")).select(
            F.col("doc_id").alias(id_col)
        )
        near = staged("near_dedup", exact.join(losers, id_col, "left_anti"))

        # 4. decontamination: drop documents overlapping the benchmark set.
        if benchmark_pred is not None:
            overlap = dd.benchmark_overlap(near, benchmark_pred, text_col, id_col)
            contaminated = overlap.filter(
                F.col("overlap_frac") > overlap_max
            ).select(id_col)
            near = staged(
                "decontaminated",
                near.filter(~benchmark_pred).join(contaminated, id_col, "left_anti"),
            )

        # 5. token-budget selection (quality DESC, id ASC — banded prefix sum).
        selected = observe(
            "token_budget",
            sel.select_token_budget(near, "quality", "n_tokens", id_col, token_budget),
        )

        # 6. deterministic split, then 7. per-(lang, split) sequence packing
        #    on the composite hash-sharded key.
        split_frame = selected.withColumn("split", train_val_test(F.col(id_col)))
        packed = sel.pack_token_sequences(
            split_frame.withColumn(
                "__grp", F.concat_ws("/", F.col(lang_col), F.col("split"))
            ),
            "__grp",
            "n_tokens",
            id_col,
            pack_capacity,
            shards=pack_shards,
        )
        out = packed.select(
            F.split_part(F.col("__grp"), F.lit("/"), F.lit(1)).alias(lang_col),
            F.split_part(F.col("__grp"), F.lit("/"), F.lit(2)).alias("split"),
            "shard",
            id_col,
            "n_tokens",
            "bin_idx",
            "bin_fill",
        )
        (out,) = session.stage(observe("packed", out))

        # A stage that no executed plan ran leaves its observation
        # unfired (on an empty input the first four do not fire); such a
        # stage is counted directly.  obs.get raises on the empty row of
        # an unfired observation.
        stages = {
            name: obs.get["n"] if obs._jo.getRow().length() > 0 else df.count()
            for name, obs, df in observed
        }
    finally:
        for df in cached:
            df.unpersist()
    return out, stages
