"""Cross-stage invariants of the end-to-end curation pipeline
(pipeline.py).  Each stage's operator is oracle-verified on its own in
plans/; these tests assert the properties only the COMPOSITION can
break: determinism run-to-run, monotone row counts, dedup actually
deduplicating, the token budget holding, splits partitioning the
selection, and packing bounded by capacity."""

from __future__ import annotations

import pytest
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
    out, s = _run(spark, sf_dir)
    rows = out.collect()

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


def test_observed_stage_counts_match_the_oracle(spark, sf_dir, duck):
    """The stage counts observed on the pipeline's one materializing
    lineage cut equal the DuckDB oracle's recomputation of every stage."""
    from spanner_jdbc_converter_spark.oracle import compare_frames
    from spanner_jdbc_converter_spark.plans import ORACLE, etl

    etl._curated.clear()  # a fresh pipeline run, counted in this test
    got = etl.pipeline_curate_report(spark, sf_dir).toPandas()
    want = duck.sql(ORACLE["pipeline_curate_report"]).df()
    result = compare_frames("pipeline_curate_report", got, want)
    assert result.ok, str(result)
    assert set(got["stage"]) == {
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


def test_curate_documents_leaves_no_stage_cache(spark, sf_dir, monkeypatch):
    """The stage caches are released before ``curate_documents`` returns,
    and also when its build fails, so no caller has to free them."""
    from spanner_jdbc_converter_spark import session

    def stage_caches() -> set[int]:
        # A cached query plan names its RDD after the plan; the local
        # checkpoints (the output, connected-groups rounds) are unnamed.
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in rdds.keys() if rdds[k].name() is not None}

    before = stage_caches()
    out, stages = _run(spark, sf_dir)
    assert out.count() == stages["packed"] > 0
    assert stage_caches() - before == set()

    def fail(*frames):
        for df in frames:  # run every stage, then fail like a lost job
            df.count()
        raise RuntimeError("stage failed")

    monkeypatch.setattr(session, "stage", fail)
    with pytest.raises(RuntimeError, match="stage failed"):
        _run(spark, sf_dir)
    assert stage_caches() - before == set()
