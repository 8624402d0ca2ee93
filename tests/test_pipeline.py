"""Cross-stage invariants of the end-to-end curation pipeline
(pipeline.py).  Each stage's operator is oracle-verified on its own in
plans/; these tests assert the properties only the COMPOSITION can
break: determinism run-to-run, monotone row counts, dedup actually
deduplicating, the token budget holding, splits partitioning the
selection, and packing bounded by capacity."""

from __future__ import annotations

from pyspark.sql import functions as F

from spanner_jdbc_converter_spark.catalog import load_table
from spanner_jdbc_converter_spark.operators.text import fingerprint
from spanner_jdbc_converter_spark.pipeline import curate_documents

BUDGET = 20_000
CAPACITY = 256


def _run(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return curate_documents(
        docs,
        benchmark_pred=F.col("source") == "src0",
        quality_min=0.3,
        token_budget=BUDGET,
        pack_capacity=CAPACITY,
        pack_shards=4,
    )


def test_pipeline_invariants(spark, sf_dir):
    out, report = _run(spark, sf_dir)
    rows = out.collect()
    s = report.stages

    # stages only ever drop rows, and every stage kept something
    order = [
        "input", "quality_filter", "exact_dedup", "near_dedup",
        "decontaminated", "token_budget",
    ]
    counts = [s[k] for k in order]
    assert counts == sorted(counts, reverse=True)
    assert all(c > 0 for c in counts)
    assert s["packed"] == s["token_budget"]  # packing reshapes, never drops

    # budget: total selected tokens within the cap
    assert sum(r.n_tokens for r in rows) <= BUDGET

    # splits partition the selection; assignment is the documented bucket
    assert {r.split for r in rows} <= {"train", "val", "test"}

    # bins: fill never exceeds capacity unless the bin is a single
    # oversize document (next-fit semantics)
    from collections import defaultdict

    bins = defaultdict(list)
    for r in rows:
        bins[(r.lang, r.split, r.shard, r.bin_idx)].append(r.n_tokens)
    for members in bins.values():
        assert sum(members) <= CAPACITY or len(members) == 1


def test_pipeline_no_duplicate_fingerprints_and_no_benchmark_rows(spark, sf_dir):
    out, _ = _run(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.join(out.select("doc_id"), "doc_id")
    # exact dedup survived composition: normalized fingerprints unique
    n = kept.count()
    n_fp = kept.select(fingerprint("text").alias("fp")).distinct().count()
    assert n == n_fp
    # decontamination removed the benchmark source entirely
    assert kept.filter(F.col("source") == "src0").count() == 0


def test_pipeline_is_deterministic(spark, sf_dir):
    a, _ = _run(spark, sf_dir)
    b, _ = _run(spark, sf_dir)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb


def test_lazy_observed_counts_match_eager(spark, sf_dir):
    """with_counts="lazy" (one action, observed metrics) must report the
    exact same per-stage counts as the eager per-stage count jobs."""
    docs = load_table(spark, sf_dir, "documents")

    _, eager = curate_documents(
        docs,
        benchmark_pred=F.col("source") == "src0",
        token_budget=50_000,
        with_counts=True,
    )
    out, lazy = curate_documents(
        docs,
        benchmark_pred=F.col("source") == "src0",
        token_budget=50_000,
        with_counts="lazy",
    )
    out.write.format("noop").mode("overwrite").save()
    lazy.resolve()
    lazy.release()
    eager.release()
    assert lazy.stages == eager.stages
    assert set(lazy.stages) == {
        "input", "quality_filter", "exact_dedup", "near_dedup",
        "decontaminated", "token_budget", "packed",
    }


def test_pipeline_entries_share_one_execution(spark, sf_dir):
    """The three pipeline corpus entries (packed frame, stage report,
    pack invariants) must certify ONE pipeline execution via the
    session store — r6's independent runs cost 14% of the corpus bench
    (VERDICT r6 #2).  The store is keyed per (session, fixture), and the
    report frame's counts equal the shared store's counts."""
    from spanner_jdbc_converter_spark.plans import etl

    etl._curated.clear()
    packed = etl.pipeline_curate_documents(spark, sf_dir)
    assert len(etl._curated.entries) == 1
    report = etl.pipeline_curate_report(spark, sf_dir)
    inv = etl.pipeline_pack_invariants(spark, sf_dir)
    assert len(etl._curated.entries) == 1  # no second execution
    stages = dict(etl._curated.entries.popitem()[1][1])
    got = {r.stage: r.n_rows for r in report.collect()}
    assert got == stages
    # the invariants frame aggregates the SAME packed frame
    assert inv.agg(F.sum("n_docs")).first()[0] == packed.count() == stages["packed"]
    packed.unpersist()


def test_lazy_counts_require_stage_persist(spark, sf_dir):
    """lazy counts without the stage cache would multiply the observed
    CollectMetrics subtrees (ADVICE r6) — the combination must refuse."""
    import pytest

    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="persist_stages"):
        curate_documents(docs, with_counts="lazy", persist_stages=False)
