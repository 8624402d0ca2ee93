"""Opt-in scale smoke: core operators at ~10× the sf0.1 fixture volume.

Skipped unless ``SPARK_GRAFT_SCALE_SMOKE=1`` — this is the harness for
probing beyond the checked-in scale factors, not part of the default
gate.  The input is the sf0.1 documents/events table unioned N times
with shifted ids, so distributions (and near-dup structure) survive
while volume scales; assertions check completion, output-shape
invariants, and that runtimes stay within a generous envelope rather
than exact values (DuckDB oracles at this volume would dominate the
runtime for no extra signal — value correctness is the sf0.001/sf0.01
oracle gate's job).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark.catalog import load_table

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_SMOKE") != "1",
    reason="scale smoke is opt-in (SPARK_GRAFT_SCALE_SMOKE=1)",
)

SF_DIR = "/root/testdata/sf0.1"
COPIES = 10


def _scaled_docs(spark, copies: int = COPIES):
    d = load_table(spark, SF_DIR, "documents")
    n = d.agg(F.max("doc_id")).first()[0] + 1
    return (
        spark.range(copies)
        .crossJoin(d)
        .select(
            (F.col("doc_id") + F.col("id") * n).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )


def test_fingerprint_dedup_at_10x(spark):
    from spanner_jdbc_converter_spark.operators.dedup import fingerprint_dedup

    docs = _scaled_docs(spark)
    t0 = time.time()
    survivors = fingerprint_dedup(docs).count()
    wall = time.time() - t0
    base_unique = (
        load_table(spark, SF_DIR, "documents")
        .select(F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))))
        .distinct()
        .count()
    )
    # every replica is an exact dup — survivors equal the base unique set
    assert survivors == base_unique
    assert wall < 120, f"fingerprint dedup at 10x took {wall:.0f}s"


def test_lsh_candidates_at_10x(spark):
    from spanner_jdbc_converter_spark.operators.dedup import lsh_candidate_pairs

    docs = _scaled_docs(spark)
    t0 = time.time()
    n_pairs = lsh_candidate_pairs(docs).count()
    wall = time.time() - t0
    assert n_pairs > 0  # replicas guarantee near-dup candidates
    assert wall < 300, f"LSH candidates at 10x took {wall:.0f}s"


def test_sessionization_at_10x_events(spark):
    from spanner_jdbc_converter_spark.operators.sessions import (
        session_stats,
        with_session_index,
    )

    ev = load_table(spark, SF_DIR, "events")
    n = ev.agg(F.max("event_id")).first()[0] + 1
    u = ev.agg(F.max("user_id")).first()[0] + 1
    scaled = (
        spark.range(COPIES)
        .crossJoin(ev)
        .select(
            (F.col("event_id") + F.col("id") * n).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("id") * u).alias("user_id"),
            "value",
        )
    )
    t0 = time.time()
    stats = session_stats(with_session_index(scaled))
    total_events = stats.agg(F.sum("n_events")).first()[0]
    wall = time.time() - t0
    assert total_events == ev.count() * COPIES  # every event in exactly one session
    assert wall < 120, f"sessionization at 10x took {wall:.0f}s"


def test_connected_groups_deep_components_at_scale(spark, connected_groups_rounds):
    """Connected components on a synthetic graph with DEEP chains —
    the shape that breaks naive propagation: 2,000 chains × depth 64
    (128k nodes) plus 10k star clusters, plus one ADVERSARIAL-id chain:
    1,024 nodes whose chain order is the bit-reversal permutation of
    their ids, so labels are maximally non-monotone along the chain
    (the layout where min-label propagation pays full diameter AND
    pointer jumping never shortcuts).  Star contraction must close
    everything in O(log n) rounds regardless — naive min-label would
    need ~1,024."""
    import math

    chains = (
        spark.range(2_000)
        .crossJoin(spark.range(63).withColumnRenamed("id", "step"))
        .select(
            (F.col("id") * 1_000_000 + F.col("step")).alias("id_a"),
            (F.col("id") * 1_000_000 + F.col("step") + 1).alias("id_b"),
        )
    )
    STAR_BASE = 10_000_000_000  # disjoint from every chain id (< 2e9)
    stars = (
        spark.range(10_000)
        .crossJoin(spark.range(1, 5).withColumnRenamed("id", "leaf"))
        .select(
            (F.lit(STAR_BASE) + F.col("id") * 100).alias("id_a"),
            (F.lit(STAR_BASE) + F.col("id") * 100 + F.col("leaf")).alias("id_b"),
        )
    )
    ADV_BASE = 20_000_000_000
    BITS = 10  # 1,024-node chain in bit-reversed id order
    rev = [int(format(i, f"0{BITS}b")[::-1], 2) for i in range(1 << BITS)]
    adv = spark.createDataFrame(
        [(ADV_BASE + rev[i], ADV_BASE + rev[i + 1]) for i in range((1 << BITS) - 1)],
        "id_a long, id_b long",
    )
    t0 = time.time()
    groups, rounds = connected_groups_rounds(
        chains.unionByName(stars).unionByName(adv)
    )
    n_groups = groups.select("group_id").distinct().count()
    n_nodes = groups.count()
    wall = time.time() - t0
    assert n_groups == 2_000 + 10_000 + 1
    assert n_nodes == 2_000 * 64 + 10_000 * 5 + (1 << BITS)
    n_total = 2_000 * 64 + 10_000 * 5 + (1 << BITS)
    assert rounds <= 2 * math.log2(n_total), (
        f"{rounds} rounds — star contraction lost its log bound"
    )
    # every chain head (id ≡ 0 mod 1e6) is its own group's label
    bad = groups.filter(
        (F.col("doc_id") < STAR_BASE)
        & (F.col("doc_id") % 1_000_000 == 0)
        & (F.col("doc_id") != F.col("group_id"))
    )
    assert bad.count() == 0
    # the adversarial chain collapses to its minimum id (rev contains 0)
    adv_groups = groups.filter(F.col("doc_id") >= ADV_BASE)
    assert adv_groups.filter(F.col("group_id") != ADV_BASE).count() == 0
    assert wall < 300, f"connected components at scale took {wall:.0f}s"


def test_curation_pipeline_at_10x(spark):
    """The full 8-stage curation pipeline at 10× sf0.1 volume: must
    complete inside the envelope with its cross-stage invariants
    intact (selection within budget, packed rows = selected rows)."""
    from spanner_jdbc_converter_spark.pipeline import curate_documents

    docs = _scaled_docs(spark)
    t0 = time.time()
    out, stages = curate_documents(
        docs,
        benchmark_pred=F.col("source") == "src0",
        token_budget=50_000,
        pack_capacity=512,
    )
    n_packed = out.count()
    wall = time.time() - t0
    assert stages["packed"] == n_packed
    assert stages["token_budget"] == n_packed
    assert n_packed > 0
    # monotone stage counts: each filter/dedup stage only shrinks
    order = ["input", "quality_filter", "exact_dedup", "near_dedup",
             "decontaminated", "token_budget"]
    counts = [stages[s] for s in order]
    assert counts == sorted(counts, reverse=True)
    assert wall < 600, f"curation pipeline at 10x took {wall:.0f}s"


def test_embedding_lsh_pairs_at_10x(spark):
    """LSH-pruned embedding threshold pairs at 10× the sf0.1 corpus
    (20k vectors): must stay bucket-local (no pair-space blowup) and
    inside the envelope; replicas guarantee exact-duplicate pairs at
    cosine 1.0."""
    from spanner_jdbc_converter_spark.operators.dedup import embedding_near_pairs_lsh

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.agg(F.max("vec_id")).first()[0] + 1
    scaled = (
        spark.range(COPIES)
        .crossJoin(e)
        .select((F.col("vec_id") + F.col("id") * n).alias("vec_id"), "embedding")
    )
    t0 = time.time()
    pairs = embedding_near_pairs_lsh(scaled, threshold=0.99)
    n_pairs = pairs.count()
    wall = time.time() - t0
    # every replica pair of the same base vector is an exact duplicate
    assert n_pairs >= 0.9 * (n * COPIES * (COPIES - 1) / 2)
    assert wall < 300, f"LSH embedding pairs at 10x took {wall:.0f}s"


def test_embedding_lsh_pairs_hot_bucket_skew(spark):
    """Bucket-skew shape for the LSH threshold-pairs kernel: 4k vectors
    share ONE direction (every table hashes them into the same bucket —
    the pathological hot bucket) on top of 16k near-uniform vectors.
    The kernel must stay bucket-local, score the hot block in one numpy
    pass, and finish inside the envelope; all hot-direction pairs are
    exact near-duplicates (cosine ≈ 1) so the pair count is the hot
    clique."""
    import numpy as np

    from spanner_jdbc_converter_spark.operators.dedup import embedding_near_pairs_lsh

    rng = np.random.default_rng(7)
    dim = 64
    base = rng.standard_normal(dim)
    base /= np.linalg.norm(base)
    HOT, COLD = 4_000, 16_000
    hot = base[None, :] + 1e-4 * rng.standard_normal((HOT, dim))
    cold = rng.standard_normal((COLD, dim))
    vecs = np.vstack([hot, cold]).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(HOT + COLD)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(32)

    t0 = time.time()
    pairs = embedding_near_pairs_lsh(df, threshold=0.999)
    n_pairs = pairs.count()
    wall = time.time() - t0
    # the hot clique: all 4k near-identical vectors pair with each other
    assert n_pairs >= HOT * (HOT - 1) / 2
    assert wall < 300, f"hot-bucket LSH pairs took {wall:.0f}s"


def test_verified_near_pairs_at_10x(spark):
    """MinHash-LSH recall + exact Jaccard verify at 10× sf0.1 volume:
    candidate-set-sized joins only.  Replicas of the same base doc are
    exact duplicates, so verified pairs at threshold 0.9 include every
    replica pair that LSH recalls; every emitted pair must carry
    jaccard ≥ threshold."""
    from spanner_jdbc_converter_spark.operators.dedup import verified_near_pairs

    docs = _scaled_docs(spark)
    t0 = time.time()
    pairs = verified_near_pairs(docs, threshold=0.9)
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"), F.min("jaccard").alias("min_j")
    ).first()
    wall = time.time() - t0
    assert agg["n"] > 0
    assert agg["min_j"] >= 0.9
    assert wall < 600, f"verified near pairs at 10x took {wall:.0f}s"


def test_ewma_bounded_lag_truncation_error(spark):
    """The K-lag truncated EWMA window vs the exact sequential
    recurrence on LONG per-key series (4 keys × 50k points): the
    truncated form must agree with pandas ewm(adjust=True) within the
    theoretical tail bound ~2·(1−α)^(K+1)·max|x| everywhere — the bound
    that justifies recasting the recurrence as a codegen window at
    scale (at the corpus entry's value magnitudes it sits below the
    6-digit rounding)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from spanner_jdbc_converter_spark.plans.behavior import (
        _EWMA_ALPHA,
        _EWMA_K,
        ewma_bounded_col,
    )

    rng = np.random.default_rng(11)
    N, KEYS = 50_000, 4
    pdf = pd.DataFrame(
        {
            "k": np.repeat(np.arange(KEYS), N),
            "i": np.tile(np.arange(N), KEYS),
            "value": rng.standard_normal(N * KEYS) * 100,
        }
    )
    df = spark.createDataFrame(pdf).repartition(32)
    w = Window.partitionBy("k").orderBy("i")
    t0 = time.time()
    got = (
        df.withColumn("ewma", ewma_bounded_col(F.col("value"), w, _EWMA_ALPHA, _EWMA_K))
        .toPandas()
        .sort_values(["k", "i"])
        .reset_index(drop=True)
    )
    wall = time.time() - t0
    exact = (
        pdf.sort_values(["k", "i"])
        .groupby("k")["value"]
        .transform(lambda s: s.ewm(alpha=_EWMA_ALPHA, adjust=True).mean())
        .reset_index(drop=True)
    )
    err = (got["ewma"] - exact).abs().max()
    # tail bound: dropped weights sum to (1-a)^(K+1)/a of a den >= 1;
    # with the final round-to-6 that is < 4*(1-a)^(K+1)*max|x| + 5e-7
    bound = 4 * (1 - _EWMA_ALPHA) ** (_EWMA_K + 1) * pdf["value"].abs().max() + 1e-6
    assert err < bound, f"truncation error {err} exceeds bound {bound}"
    assert wall < 120, f"bounded EWMA on long series took {wall:.0f}s"


def test_incremental_dedup_at_10x_corpus(spark):
    """Increment path at scale shape: 10x sf0.1 corpus (50k docs) with a
    1-in-10 batch. The batch-sided banding keeps candidate work
    batch-proportional; replicas guarantee both corpus hits (batch docs
    whose base doc sits in the corpus) and batch-batch duplicate groups."""
    from spanner_jdbc_converter_spark.operators.dedup import incremental_near_dedup

    docs = _scaled_docs(spark)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    t0 = time.time()
    survivors = incremental_near_dedup(corpus, batch, threshold=0.9)
    n_in = batch.count()
    n_out = survivors.count()
    wall = time.time() - t0
    # replicas are exact dups of corpus-resident base docs -> heavy drops
    assert 0 < n_out < n_in
    assert wall < 600, f"incremental dedup at 10x took {wall:.0f}s"


def test_source_overlap_matrix_many_sources(spark):
    """VERDICT r7 #7 (carried): the |sources|² postings bound under a
    MANY-source synthetic — 64 sources over the 10× corpus.  Each gram's
    posting list is capped by the distinct-source projection, so the
    pair join stays Σ df_src² ≤ 64² per gram regardless of doc count;
    output cardinality is bounded by the source-pair space."""
    from spanner_jdbc_converter_spark.operators.dedup import source_overlap_matrix

    n_sources = 64
    docs = _scaled_docs(spark).withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % n_sources).cast("string"))
    )
    t0 = time.time()
    out = source_overlap_matrix(docs)
    rows = out.count()
    wall = time.time() - t0
    # replicas spread shared grams across sources: pairs exist, and the
    # matrix can never exceed the source-pair space
    assert 0 < rows <= n_sources * (n_sources - 1) // 2
    # every containment is a valid fraction of the smaller side
    bad = out.filter((F.col("containment") <= 0) | (F.col("containment") > 1)).count()
    assert bad == 0
    assert wall < 300, f"source overlap matrix at 10x/64 sources took {wall:.0f}s"


def test_temperature_mix_skewed_sources_at_10x(spark):
    """VERDICT r7 #7 (carried): temperature mixing under SKEWED source
    sizes at 10× — a head source ~32× the tail.  The kept mix must
    follow w_i ∝ n_i^0.5 (uncapped groups within hash-Bernoulli
    tolerance; capped tail groups keep everything), and the rate join
    must not blow up on the skewed head."""
    from spanner_jdbc_converter_spark.operators.selection import temperature_mix_sample

    # skewed partition of the 10× corpus: source s0 gets ~32/39 of all
    # docs, s1 ~4/39, s2 ~2/39, s3 1/39 (via doc_id % 39 banding)
    m = F.col("doc_id") % 39
    docs = _scaled_docs(spark).withColumn(
        "source",
        F.when(m < 32, "s0").when(m < 36, "s1").when(m < 38, "s2").otherwise("s3"),
    )
    t0 = time.time()
    kept = temperature_mix_sample(docs, "source", "doc_id", tau=0.5, target_frac=0.4)
    kept_counts = {r["source"]: r["n"] for r in
                   kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    wall = time.time() - t0
    tot_counts = {r["source"]: r["n"] for r in
                  docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    import math

    target_total = 0.4 * sum(tot_counts.values())
    z = sum(math.sqrt(n) for n in tot_counts.values())
    for src, n in sorted(tot_counts.items()):
        want = target_total * math.sqrt(n) / z  # w_i ∝ n_i^tau
        if want >= n:  # capped group: keeps everything
            assert kept_counts[src] == n, (src, kept_counts[src], n)
        else:
            # md5-bucket Bernoulli at these n: 10% tolerance is generous
            assert abs(kept_counts[src] - want) / want < 0.10, (
                src, kept_counts[src], want,
            )
    assert wall < 240, f"temperature mix at 10x skewed took {wall:.0f}s"


def test_boilerplate_scrub_at_10x(spark):
    """10 shifted replicas multiply every span's df by 10, so scrubbing
    at min_df=15 must reproduce EXACTLY the base corpus's scrub at
    min_df=2 (15 <= 10*df iff df >= 2) — per-doc removed counts match
    replica-for-replica, and the run completes in the envelope."""
    from spanner_jdbc_converter_spark.operators.text import boilerplate_scrub

    base = load_table(spark, SF_DIR, "documents")
    expect = {
        r.doc_id: r.n_removed
        for r in boilerplate_scrub(base, min_df=2).collect()
    }
    docs = _scaled_docs(spark)
    n = base.agg(F.max("doc_id")).first()[0] + 1
    t0 = time.time()
    got = boilerplate_scrub(docs, min_df=15)
    replica0 = {
        r.doc_id: r.n_removed
        for r in got.filter(F.col("doc_id") < n).collect()
    }
    wall = time.time() - t0
    assert replica0 == expect
    assert wall < 300


def test_bpe_merges_scale_invariant_at_10x(spark):
    """Uniform 10x replication scales every pair count by exactly 10 and
    preserves ties, so the learned merge rules must be IDENTICAL with
    pair_count x10 — the vocabulary frame (not the corpus) carries the
    rounds, so wall time stays near the base run."""
    from spanner_jdbc_converter_spark.operators.text import bpe_merges

    base = load_table(spark, SF_DIR, "documents")
    base_rules = [
        (r["rank"], r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_merges(base).orderBy("rank").collect()
    ]
    t0 = time.time()
    scaled_rules = [
        (r["rank"], r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_merges(_scaled_docs(spark)).orderBy("rank").collect()
    ]
    wall = time.time() - t0
    assert scaled_rules == [
        (rk, a, b, m, c * COPIES) for rk, a, b, m, c in base_rules
    ]
    assert wall < 300


def test_dsir_importance_at_10x_skewed_sources(spark):
    """DSIR at 10× with skewed source sizes (head ~32× the tail): the
    fixed 8192-row model must keep scoring broadcast-sided, the value-
    banded rank must not degenerate into one giant band task, and the
    per-source kept counts must be exactly ceil(0.25·n)."""
    import math

    from spanner_jdbc_converter_spark.operators.text import dsir_importance

    m = F.col("doc_id") % 39
    docs = _scaled_docs(spark).withColumn(
        "source",
        F.when(m < 32, "s0").when(m < 36, "s1").when(m < 38, "s2").otherwise("src0"),
    )
    t0 = time.time()
    out = dsir_importance(docs)
    kept = {
        r["source"]: (r["k"], r["n"])
        for r in out.groupBy("source")
        .agg(
            F.sum(F.col("selected").cast("long")).alias("k"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    wall = time.time() - t0
    assert set(kept) == {"s0", "s1", "s2", "src0"}
    for src, (k, n) in sorted(kept.items()):
        assert k == math.ceil(n * 0.25), (src, k, n)
    assert wall < 300, f"DSIR at 10x skewed took {wall:.0f}s"


def test_jaccard_pairs_hot_shingle_bounded(spark):
    """VERDICT r10 #4: ONE boilerplate-hot shingle must not explode the
    pair join.  20k docs, otherwise pairwise-disjoint, half carrying the
    same appended boilerplate sentence — uncapped, that single shingle
    alone is a 10k²/2 ≈ 50M-row self-join; with the PAIRS_MAX_DF cap it
    leaves the shingle universe and the run is posting-bounded.  Docs
    0..199 are 100 identical twin pairs (i, i+100) whose signal rides
    rare shingles — the cap must NOT cost them."""
    from spanner_jdbc_converter_spark.operators.dedup import (
        PAIRS_MAX_DF,
        jaccard_pairs,
    )

    n = 20_000
    base = F.when(F.col("id") < 200, F.col("id") % 100).otherwise(F.col("id"))
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"t{s}"), base.cast("string")) for s in "abcde"]
    )
    hot = F.when(
        F.col("id") % 2 == 0,
        F.concat(uniq, F.lit(" zzhot1 zzhot2 zzhot3")),
    ).otherwise(uniq)
    docs = spark.range(n).select(F.col("id").alias("doc_id"), hot.alias("text"))
    t0 = time.time()
    rows = jaccard_pairs(docs, threshold=0.2, max_df=PAIRS_MAX_DF).collect()
    wall = time.time() - t0
    # twin pairs share the same parity (i vs i+100), hence identical text
    assert sorted((r.id_a, r.id_b) for r in rows) == [
        (i, i + 100) for i in range(100)
    ]
    assert all(r.jaccard == 1.0 for r in rows)
    assert wall < 120, f"hot-shingle jaccard took {wall:.0f}s"


def test_cusum_alarms_at_10x_entities(spark):
    """VERDICT r10 #8: CUSUM in the many-small-groups regime — 10× the
    entity count (15k applyInPandas groups, 1M rows), where per-group
    Arrow overhead, not the sequential walk, is the scaling risk.  The
    replicas share one (k, h) stats frame, so every copy of a base user
    walks the identical recurrence: per-copy row and alarm counts must
    be exactly equal across all ten copies."""
    from spanner_jdbc_converter_spark.operators.sessions import cusum_alarms

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    n = ev.agg(F.max("user_id")).first()[0] + 1
    scaled = spark.range(COPIES).crossJoin(ev).select(
        (F.col("user_id") + F.col("id") * n).alias("user_id"),
        (F.col("event_id") + F.col("id") * 100_000_000).alias("event_id"),
        "ts",
        "value",
    )
    dec = "decimal(28,12)"
    st = scaled.agg(
        (F.sum(F.col("value").cast(dec)).cast("double") / F.count(F.lit(1))).alias(
            "mean"
        ),
        (
            F.sum((F.col("value") * F.col("value")).cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
    )
    sigma = F.sqrt(F.col("m2") - F.col("mean") * F.col("mean"))
    kh = st.select(
        F.round(F.col("mean") + 0.5 * sigma, 6).alias("_k"),
        F.round(4 * sigma, 6).alias("_h"),
    )
    t0 = time.time()
    out = cusum_alarms(scaled.crossJoin(F.broadcast(kh)))
    per_copy = {
        r["copy"]: (r["n"], r["n_alarms"])
        for r in out.groupBy((F.col("user_id") / n).cast("long").alias("copy"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("alarm").cast("long")).alias("n_alarms"),
        )
        .collect()
    }
    wall = time.time() - t0
    assert set(per_copy) == set(range(COPIES))
    assert len(set(per_copy.values())) == 1  # every copy walks identically
    assert sum(v[0] for v in per_copy.values()) == COPIES * ev.count()
    assert wall < 300, f"CUSUM at 10x entities took {wall:.0f}s"


def test_winnow_pairs_at_10x(spark):
    """Winnowing at 10×: the fingerprint pass is linear (one doc_id
    exchange) and the pair join stays postings-capped — replicas are
    exact dups, so every base doc's twin set shares ALL fingerprints
    and pair output is bounded by the [2, SPAN_MAX_DF] posting cap."""
    from spanner_jdbc_converter_spark.operators.dedup import (
        verbatim_span_pairs,
        winnow_fingerprints,
    )

    docs = _scaled_docs(spark)
    t0 = time.time()
    fps = winnow_fingerprints(docs)
    pairs = verbatim_span_pairs(docs, spans=fps)
    n_pairs = pairs.count()
    wall = time.time() - t0
    assert n_pairs > 0  # replicas guarantee shared fingerprints
    bad = pairs.filter(
        (F.col("frac_a") <= 0) | (F.col("frac_a") > 1)
        | (F.col("frac_b") <= 0) | (F.col("frac_b") > 1)
    ).count()
    assert bad == 0
    assert wall < 300, f"winnow pairs at 10x took {wall:.0f}s"


def test_debounce_at_10x_entities(spark):
    """VERDICT r11 #8: debounce in the group-COUNT regime that bit r11
    (14.1 s grouped on (user,type) vs 2.98 s grouped on the entity) —
    10× the entity count means 15k Arrow groups holding ~1M rows, where
    per-group overhead, not the per-type walk, is the scaling risk.
    Replicas of a base user carry identical (type, ts) streams, so every
    copy must keep exactly the same number of events."""
    from spanner_jdbc_converter_spark.operators.sessions import debounce_events

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    n = ev.agg(F.max("user_id")).first()[0] + 1
    scaled = spark.range(COPIES).crossJoin(ev).select(
        (F.col("user_id") + F.col("id") * n).alias("user_id"),
        (F.col("event_id") + F.col("id") * 100_000_000).alias("event_id"),
        "ts",
        "event_type",
    )
    t0 = time.time()
    out = debounce_events(scaled)
    per_copy = {
        r["copy"]: (r["n"], r["n_kept"])
        for r in out.groupBy((F.col("user_id") / n).cast("long").alias("copy"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
        )
        .collect()
    }
    wall = time.time() - t0
    assert set(per_copy) == set(range(COPIES))
    assert len(set(per_copy.values())) == 1  # every copy debounces identically
    assert sum(v[0] for v in per_copy.values()) == COPIES * ev.count()
    # some events must actually be dropped, else the fixture gap never binds
    n_total, n_kept = per_copy[0]
    assert 0 < n_kept < n_total
    assert wall < 300, f"debounce at 10x entities took {wall:.0f}s"


def test_pq_topk_at_10x_corpus(spark):
    """PQ ANN at 10x the sf0.1 corpus (20k vectors, ~400 queries): the
    Arrow-batched encode and the broadcast-LUT scoring must hold the
    envelope (the first bench row of the expression-form encode took
    15 s at 2k vectors — this smoke pins the regression), and every
    query must get exactly k ranked matches."""
    from spanner_jdbc_converter_spark.functions.vector import norm
    from spanner_jdbc_converter_spark.operators import similarity as sim

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.agg(F.max("vec_id")).first()[0] + 1
    scaled = (
        spark.range(COPIES)
        .crossJoin(e)
        .select((F.col("vec_id") + F.col("id") * n).alias("vec_id"), "embedding")
        .filter(norm(F.col("embedding")) > 0)
    )
    queries = scaled.filter(F.col("vec_id") % 500 == 0)
    t0 = time.time()
    out = sim.pq_topk(queries, scaled, k=5).groupBy("query_id").count().collect()
    wall = time.time() - t0
    assert out and all(r["count"] == 5 for r in out)
    assert wall < 120, f"pq_topk at 10x took {wall:.0f}s"


def test_power_iteration_pc1_at_10x_corpus(spark):
    """PC1 at 10x the sf0.1 corpus: three scans + 64-key aggregates must
    stay flat; replicating the corpus leaves the distribution (and so
    the principal direction's unit norm) intact."""
    import math

    from spanner_jdbc_converter_spark.operators import clustering as cl

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.agg(F.max("vec_id")).first()[0] + 1
    scaled = (
        spark.range(COPIES)
        .crossJoin(e)
        .select((F.col("vec_id") + F.col("id") * n).alias("vec_id"), "embedding")
    )
    t0 = time.time()
    rows = cl.power_iteration_pc1(scaled).collect()
    wall = time.time() - t0
    assert len(rows) == 64
    assert rows[0].n_vecs == 10 * n
    nrm = math.sqrt(sum(r.pc1 * r.pc1 for r in rows))
    assert abs(nrm - 1.0) < 1e-3  # unit loadings (round-6 per coordinate)
    assert wall < 120, f"pc1 at 10x took {wall:.0f}s"


def test_image_phash_at_10x_corpus(spark):
    """Image dHash pairing at 10x the sf0.1 image count (50k images):
    replicas hash identically (the payload is a pure doc_id % formula
    on w/h/phase with period 2560, and ids shift by a multiple of
    2560), so the banded bucket join faces maximal collision pressure
    — exactly the hot-bucket shape that must stay bounded.  Every
    replica pair must surface at hamming 0."""
    from spanner_jdbc_converter_spark.operators import dedup as dd
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    d = load_table(spark, SF_DIR, "documents").select("doc_id")
    n = d.agg(F.max("doc_id")).first()[0] + 1
    shift = ((n + 2559) // 2560) * 2560  # keep id % 2560 — identical images
    scaled = (
        spark.range(COPIES)
        .crossJoin(d)
        .select((F.col("doc_id") + F.col("id") * shift).alias("doc_id"))
    )
    hashes = mm.decode_pgm_dhash(mm.attach_pgm_payload(scaled))
    t0 = time.time()
    pairs = dd.hamming_band_pairs(hashes, "dhash", "doc_id", max_hamming=0)
    n_pairs = pairs.count()
    wall = time.time() - t0
    # every image has >= COPIES-1 exact replicas -> at least C(10,2) per base id
    assert n_pairs >= (COPIES * (COPIES - 1) // 2) * n
    assert wall < 180, f"image phash at 10x took {wall:.0f}s"


def test_residual_ivfpq_at_10x_corpus(spark):
    """Residual IVF+PQ at 10x the sf0.1 corpus: coarse assignment,
    residual Arrow encode, and the cent_id-bucketed scoring join must
    hold the envelope, and every query gets exactly k ranked matches."""
    from spanner_jdbc_converter_spark.functions.vector import norm
    from spanner_jdbc_converter_spark.operators import similarity as sim

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.agg(F.max("vec_id")).first()[0] + 1
    scaled = (
        spark.range(COPIES)
        .crossJoin(e)
        .select((F.col("vec_id") + F.col("id") * n).alias("vec_id"), "embedding")
        .filter(norm(F.col("embedding")) > 0)
    )
    queries = scaled.filter(F.col("vec_id") % 500 == 0)
    t0 = time.time()
    out = (
        sim.residual_ivfpq_topk(queries, scaled, k=5)
        .groupBy("query_id")
        .count()
        .collect()
    )
    wall = time.time() - t0
    assert out and all(r["count"] == 5 for r in out)
    assert wall < 180, f"residual ivfpq at 10x took {wall:.0f}s"


def test_audio_fingerprint_pairs_at_10x_corpus(spark):
    """Audio near-dedup at 10x the sf0.1 clip count (50k clips): ids
    shift by a multiple of WAVDUP_FAMILY, so every replica block forms
    NEW independent near-dup families (family structure — 8 single-
    sample variants of a base clip — survives, volume scales).  Pair
    output must scale linearly with the corpus and the banded window
    join must stay bucket-bounded."""
    from spanner_jdbc_converter_spark.operators import dedup as dd
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    d = load_table(spark, SF_DIR, "documents").select("doc_id")
    n = d.agg(F.max("doc_id")).first()[0] + 1
    shift = (
        (n + mm.WAVDUP_FAMILY - 1) // mm.WAVDUP_FAMILY
    ) * mm.WAVDUP_FAMILY

    def run_pairs(docs_df):
        fps = mm.decode_wav_chromaprint(
            _wavdup_payload(spark, docs_df)
        )
        wids = fps.select(
            (F.shiftleft(F.col("doc_id"), 20) + F.col("win_id")).alias("wid"),
            "afp",
        )
        p = dd.hamming_band_pairs(
            wids, "afp", "wid", max_hamming=2, bands=4, bits=mm.CHROMA_BITS
        )
        return (
            p.select(
                F.shiftright(F.col("id_a"), 20).alias("a"),
                F.shiftright(F.col("id_b"), 20).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .count()
        )

    def _wavdup_payload(spark_, docs_df):
        from pyspark.sql import types as T

        def run(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "payload": pdf["doc_id"].map(
                            lambda x: mm._wav_bytes(
                                mm._synth_dup_samples(int(x))
                            )
                        ),
                    }
                )

        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        )
        return docs_df.select("doc_id").mapInPandas(run, schema)

    base_pairs = run_pairs(d)
    scaled = (
        spark.range(COPIES)
        .crossJoin(d)
        .select((F.col("doc_id") + F.col("id") * shift).alias("doc_id"))
    )
    t0 = time.time()
    n_pairs = run_pairs(scaled)
    wall = time.time() - t0
    assert base_pairs > 0
    assert n_pairs >= COPIES * base_pairs  # new families add, never subtract
    assert wall < 240, f"audio pairs at 10x took {wall:.0f}s"


def test_video_frame_pairs_at_10x_corpus(spark):
    """Video shared-frame containment at 10x the sf0.1 clip count: ids
    shift by a multiple of VIDDUP_FAMILY so each replica block forms
    new shifted-window families — per-hash posting lists stay at the
    family size (~6), far under SPAN_MAX_DF, so pair output scales
    linearly and nothing quadratic appears."""
    from spanner_jdbc_converter_spark.operators import dedup as dd
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    d = load_table(spark, SF_DIR, "documents")
    n = d.agg(F.max("doc_id")).first()[0] + 1
    shift = (
        (n + mm.VIDDUP_FAMILY - 1) // mm.VIDDUP_FAMILY
    ) * mm.VIDDUP_FAMILY

    def run_pairs(docs_df):
        from pyspark.sql import types as T

        def run(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "payload": pdf["doc_id"].map(
                            lambda x: mm._y4m_bytes(
                                *mm._synth_dup_video(int(x))
                            )
                        ),
                    }
                )

        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        )
        fh = mm.decode_y4m_frame_dhash(
            docs_df.select("doc_id").mapInPandas(run, schema)
        )
        spans = fh.select(
            "doc_id", F.col("fdhash").alias("__h")
        ).dropDuplicates(["doc_id", "__h"])
        return dd.verbatim_span_pairs(docs_df, spans=spans).count()

    base_pairs = run_pairs(d)
    scaled = (
        spark.range(COPIES)
        .crossJoin(d)
        .select(
            (F.col("doc_id") + F.col("id") * shift).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    t0 = time.time()
    n_pairs = run_pairs(scaled)
    wall = time.time() - t0
    assert base_pairs > 0
    assert n_pairs >= COPIES * base_pairs
    assert wall < 240, f"video pairs at 10x took {wall:.0f}s"


def test_jpeg_dhash_at_10x_corpus(spark):
    """Baseline-JPEG decode + dHash pairing at 10x the sf0.1 image count
    (50k payloads): the coefficient field is periodic in the //4 family
    index with period lcm(33, 11, 4) = 132 (DC fam*37%33, AC fam*13%11,
    dims fam%4 patterns), so shifting ids by a multiple of 4*132 = 528
    replicates images EXACTLY — the banded bucket join faces maximal
    collision pressure while the full Huffman+IDCT decode runs per
    payload.  Every replica pair must surface at hamming 0."""
    from spanner_jdbc_converter_spark.operators import dedup as dd
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    d = load_table(spark, SF_DIR, "documents").select("doc_id")
    n = d.agg(F.max("doc_id")).first()[0] + 1
    shift = ((n + 527) // 528) * 528  # keep doc_id % 528 — identical images
    scaled = (
        spark.range(COPIES)
        .crossJoin(d)
        .select((F.col("doc_id") + F.col("id") * shift).alias("doc_id"))
    )
    hashes = mm.decode_jpeg_dhash(mm.attach_jpeg_payload(scaled))
    t0 = time.time()
    pairs = dd.hamming_band_pairs(hashes, "dhash", "doc_id", max_hamming=0)
    n_pairs = pairs.count()
    wall = time.time() - t0
    assert n_pairs >= (COPIES * (COPIES - 1) // 2) * n
    assert wall < 240, f"jpeg dhash at 10x took {wall:.0f}s"


def test_triangle_counts_at_10x_graph(spark):
    """Degree-oriented triangle counting at 10x the sf0.1 co-purchase
    graph: ten disjoint shifted copies make a block-diagonal graph, so
    node count and per-node triangle totals must scale EXACTLY 10x —
    and the wedge join must stay within the envelope (orientation caps
    out-degrees, so disjoint copies cannot super-linearly interact)."""
    from pyspark.sql import functions as F  # noqa: F811

    from spanner_jdbc_converter_spark.operators import graph as gr

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_list = F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS src, y AS dst))))"
    )
    edges = (
        baskets.select(F.explode(pair_list).alias("pr"))
        .select(F.col("pr.src").alias("src"), F.col("pr.dst").alias("dst"))
        .distinct()
    )
    n = edges.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0] + 1
    base = gr.triangle_counts(edges).agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("n_triangles").alias("t3")
    ).first()
    scaled_edges = (
        spark.range(COPIES)
        .crossJoin(edges)
        .select(
            (F.col("src") + F.col("id") * n).alias("src"),
            (F.col("dst") + F.col("id") * n).alias("dst"),
        )
    )
    t0 = time.time()
    got = gr.triangle_counts(scaled_edges).agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("n_triangles").alias("t3")
    ).first()
    wall = time.time() - t0
    assert got.n_nodes == COPIES * base.n_nodes
    assert got.t3 == COPIES * base.t3
    # measured: the 10x graph carries ~830M wedge pairs (sf0.1 part
    # graph: m=1.2M, avg degree ~120, sum outdeg^2 = 83M per copy) — a
    # ~20 GB shuffle that spills; it completes in ~4 min on local[32].
    # The envelope is a completion bound, not a perf target (file
    # docstring); the EXACT 10x count assertions above are the
    # linearity proof.
    assert wall < 360, f"triangle counting at 10x took {wall:.0f}s"


def test_triangle_estimate_at_10x_graph(spark):
    """DOULION estimate at 10x the co-purchase graph (VERDICT r15 #5):
    the block-diagonal 10x construction scales the exact count exactly
    10x, the deterministic md5 keep is copy-invariant only in
    DISTRIBUTION (shifted ids re-hash), so the estimate is checked
    against the 10x exact count by RELATIVE ERROR; the sparsified
    closure must run in a small fraction of the exact smoke's wall —
    that reduction is the operator's reason to exist."""
    from pyspark.sql import functions as F  # noqa: F811

    from spanner_jdbc_converter_spark.operators import graph as gr

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_list = F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS src, y AS dst))))"
    )
    edges = (
        baskets.select(F.explode(pair_list).alias("pr"))
        .select(F.col("pr.src").alias("src"), F.col("pr.dst").alias("dst"))
        .distinct()
    )
    n = edges.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0] + 1
    scaled_edges = (
        spark.range(COPIES)
        .crossJoin(edges)
        .select(
            (F.col("src") + F.col("id") * n).alias("src"),
            (F.col("dst") + F.col("id") * n).alias("dst"),
        )
    )
    # time the SPARSIFIED closure alone — the wedge-pair reduction IS
    # the operator's reason to exist, so it gets its own clock (the
    # full report below also runs the exact closure, whose ~4 min wall
    # the neighboring exact smoke already envelopes)
    from spanner_jdbc_converter_spark.functions.hashing import md5_long

    kept = (
        scaled_edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
        .filter(
            md5_long(
                F.concat_ws(":", F.lit("doulion"), F.col("u"), F.col("v"))
            )
            % 4
            == 0
        )
    )
    t0 = time.time()
    sparse_t3 = (
        gr.triangle_counts(kept, src_col="u", dst_col="v")
        .agg(F.sum("n_triangles").alias("t3"))
        .first()
        .t3
    )
    sparse_wall = time.time() - t0
    # the exact closure's smoke envelope is 360 s; 1/16 the wedge-pair
    # work must land far inside a quarter of it
    assert sparse_wall < 90, f"sparsified closure took {sparse_wall:.0f}s"

    row = gr.triangle_estimate(scaled_edges).first()
    # ~1/4 of edges kept (md5 keep over 10x distinct edge keys)
    assert abs(row.n_kept / row.n_edges - 0.25) < 0.01
    # the estimator at ~12M kept edges: the sf0.01 fixture measured
    # 0.13% relative error; the envelope is generous (the estimator
    # variance shrinks with triangle count)
    assert row.rel_error < 0.10, row
    assert row.est_triangles == row.sampled_triangles * 64
    # the report's sampled closure is the one just timed, replayed
    assert row.sampled_triangles * 3 == sparse_t3


def test_crossdoc_scrub_at_10x_corpus(spark):
    """Cross-doc exact-substring scrub at 10x documents: ten shifted
    copies make every replica's ≥32-token text verbatim-present in a
    lower-id doc, so every token of every replica (with ≥32 tokens) is
    covered by a repeated span — replicas scrub to EMPTY while the
    first copy keeps the corpus's own (much smaller) scrub mass.  The
    grouped-MIN plan has no pair join, so 10x input is ~10x span rows
    and nothing quadratic."""
    from pyspark.sql import functions as F  # noqa: F811

    from spanner_jdbc_converter_spark.operators import text as tx

    scaled = _scaled_docs(spark).select("doc_id", "text")
    n = load_table(spark, SF_DIR, "documents").agg(
        F.max("doc_id")
    ).first()[0] + 1
    t0 = time.time()
    out = tx.crossdoc_scrub(scaled)
    stats = (
        out.withColumn("copy", (F.col("doc_id") / n).cast("long"))
        .groupBy((F.col("copy") > 0).alias("is_replica"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("n_tokens") >= 32) & (F.col("clean_text") != ""), 1
                ).otherwise(0)
            ).alias("n_survivors_with_spans"),
        )
        .collect()
    )
    wall = time.time() - t0
    by = {r.is_replica: r for r in stats}
    # every replica doc with >= 32 tokens scrubs to empty
    assert by[True].n_survivors_with_spans == 0
    # the original copy is NOT mass-scrubbed (its own cross-doc overlap
    # is the sf0.1 corpus's organic duplication only)
    assert by[False].n_survivors_with_spans > 0
    assert wall < 240, f"crossdoc scrub at 10x took {wall:.0f}s"


def test_incremental_dedup_at_100x_corpus(spark):
    """Decade smoke (VERDICT r16 #6): the increment path against a 100x
    corpus (500k docs) with a 1%-sized NEAR-dup batch.  The batch is a
    101st shifted copy with one appended per-doc token, so stage-1
    fingerprints all MISS and the batch-sided LSH banding — the
    scale-critical stage — does the real work: every batch doc is a
    J=(|A|)/(|A|+1) near-dup of its 100 corpus replicas.

    The candidate-work counter is reproduced externally with the
    operator's own building blocks (minhash_signatures + lsh_band_keys,
    batch-sided join) and asserted SUB-QUADRATIC: per-batch-doc
    candidates are bounded by the duplicate multiplicity (~COPIES x
    organic group size <= 2), not by the corpus size — i.e. the
    |batch_bucket|*|bucket| promise holds a decade past the 10x smoke."""
    from spanner_jdbc_converter_spark.operators.dedup import (
        incremental_near_dedup,
        lsh_band_keys,
        minhash_signatures,
    )

    copies = 100
    base = load_table(spark, SF_DIR, "documents")
    n = base.agg(F.max("doc_id")).first()[0] + 1
    corpus = _scaled_docs(spark, copies).select("doc_id", "text")
    # 101st copy, text perturbed by one appended token: fingerprint-new,
    # but >=11-token docs stay above the 0.9 Jaccard threshold vs base
    batch = base.select(
        (F.col("doc_id") + copies * n).alias("doc_id"),
        F.concat_ws(" ", "text", F.concat(F.lit("zq"), F.col("doc_id") % 17)).alias(
            "text"
        ),
    )
    n_corpus = copies * base.count()
    t0 = time.time()
    survivors = incremental_near_dedup(corpus, batch, threshold=0.9)
    n_in = batch.count()
    n_out = survivors.count()
    wall = time.time() - t0
    # near-dup replicas drop en masse; only short (<11-token) docs and
    # the LSH boundary tail survive
    assert 0 < n_out < 0.1 * n_in, f"{n_out}/{n_in} batch docs survived"
    assert wall < 1200, f"incremental dedup at 100x took {wall:.0f}s"

    # -- candidate-work counter: stage-2 banding reproduced 1:1 ---------
    union = corpus.unionByName(batch)
    sigs = minhash_signatures(union, "text", "doc_id")
    banded = sigs.select(
        "doc_id", F.explode(F.array(*lsh_band_keys(F.col("sig")))).alias("band_key")
    )
    banded_batch = banded.filter(F.col("doc_id") >= copies * n).select(
        F.col("doc_id").alias("__a"), "band_key"
    )
    cand_pairs = (
        banded_batch.join(
            banded.select(F.col("doc_id").alias("__b"), "band_key"), on="band_key"
        )
        .filter(F.col("__a") != F.col("__b"))
        .select(
            F.least("__a", "__b").alias("id_a"), F.greatest("__a", "__b").alias("id_b")
        )
        .distinct()
        .count()
    )
    # most batch docs must actually be caught (the counter is live, not
    # counting an empty frame)
    assert cand_pairs > 0.5 * n_in * copies
    # sub-quadratic: per-batch-doc candidates bounded by duplicate
    # multiplicity (100 replicas x organic group <= 2, plus band-collision
    # slack), NOT by the 500k-doc corpus
    assert cand_pairs < n_in * 250, (
        f"{cand_pairs} candidates = {cand_pairs / n_in:.0f}/batch doc — "
        "bucket work grew past the duplicate-multiplicity bound"
    )
    quad = n_in * n_corpus
    assert cand_pairs < 0.002 * quad, (
        f"candidate mass {cand_pairs} is {cand_pairs / quad:.2%} of the "
        "quadratic pair space"
    )


def test_crossdoc_scrub_at_100x_corpus(spark):
    """Decade smoke (VERDICT r16 #6): cross-doc exact-substring scrub at
    100x documents (500k docs).  Work counters are EXACT linear
    invariants of the grouped-MIN plan: span rows scale by exactly 100
    (one positioned shingle pass, no posting-list expansion) and the
    distinct span-hash space does not grow at all (replicas contribute
    zero new hashes), so the only exchange carries 100x rows for 100x
    input — nothing quadratic.  Correctness mirrors the 10x smoke:
    replicas scrub to empty, first-copy survivors keep organic mass."""
    from spanner_jdbc_converter_spark.operators import text as tx
    from spanner_jdbc_converter_spark.operators.text import _span_pos_hashes

    copies = 100
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n = base.agg(F.max("doc_id")).first()[0] + 1
    scaled = _scaled_docs(spark, copies).select("doc_id", "text")

    # linear work counters from the operator's own span stage
    sp_base = _span_pos_hashes(base, "text", "doc_id", 32)
    sp_scaled = _span_pos_hashes(scaled, "text", "doc_id", 32)
    spans_1, hashes_1 = sp_base.agg(
        F.count(F.lit(1)), F.countDistinct("__h")
    ).first()
    t0 = time.time()
    spans_100, hashes_100 = sp_scaled.agg(
        F.count(F.lit(1)), F.countDistinct("__h")
    ).first()
    assert spans_100 == copies * spans_1, "span pass is not linear in copies"
    assert hashes_100 == hashes_1, "replicas must add zero new span hashes"

    out = tx.crossdoc_scrub(scaled)
    stats = (
        out.withColumn("copy", (F.col("doc_id") / n).cast("long"))
        .groupBy((F.col("copy") > 0).alias("is_replica"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("n_tokens") >= 32) & (F.col("clean_text") != ""), 1
                ).otherwise(0)
            ).alias("n_survivors_with_spans"),
        )
        .collect()
    )
    wall = time.time() - t0
    by = {r.is_replica: r for r in stats}
    assert by[True].n_survivors_with_spans == 0
    assert by[False].n_survivors_with_spans > 0
    assert wall < 1500, f"crossdoc scrub at 100x took {wall:.0f}s"


def _copurchase_scaled(spark, support: int = 1):
    """(base_edges, scaled_edges): the sf0.1 part co-purchase graph and
    its 10x block-diagonal lift (disjoint shifted copies)."""
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_list = F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS src, y AS dst))))"
    )
    pairs = baskets.select(F.explode(pair_list).alias("pr")).select(
        F.col("pr.src").alias("src"), F.col("pr.dst").alias("dst")
    )
    if support > 1:
        edges = (
            pairs.groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= support)
            .select("src", "dst")
        )
    else:
        edges = pairs.distinct()
    n = edges.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0] + 1
    scaled = (
        spark.range(COPIES)
        .crossJoin(edges)
        .select(
            (F.col("src") + F.col("id") * n).alias("src"),
            (F.col("dst") + F.col("id") * n).alias("dst"),
        )
    )
    return edges, scaled


def test_kcore_layers_at_10x_graph(spark):
    """k-core onion peel at 10x the co-purchase graph: the
    block-diagonal lift preserves the data-relative threshold
    (2·10E // 10V = 2E // V), so each copy peels identically and the
    per-layer histogram must scale EXACTLY 10x — the linearity proof
    for the O(rounds·m) claim."""
    from spanner_jdbc_converter_spark.operators import graph as gr

    edges, scaled = _copurchase_scaled(spark)
    base = {
        r.layer: r.n
        for r in gr.kcore_peel_layers(edges)
        .groupBy("layer")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    t0 = time.time()
    got = {
        r.layer: r.n
        for r in gr.kcore_peel_layers(scaled)
        .groupBy("layer")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    wall = time.time() - t0
    assert got == {k: COPIES * v for k, v in base.items()}
    assert wall < 300, f"k-core peel at 10x took {wall:.0f}s"


def test_label_propagation_at_10x_graph(spark):
    """Synchronous LPA at 10x the support-≥2 co-purchase graph: the
    disjoint lift propagates labels inside each copy independently, so
    the community-size histogram scales EXACTLY 10x (labels shift,
    structure does not)."""
    from spanner_jdbc_converter_spark.operators import graph as gr

    edges, scaled = _copurchase_scaled(spark, support=2)

    def size_hist(df):
        return {
            r.sz: r.n
            for r in df.groupBy("community")
            .agg(F.count(F.lit(1)).alias("sz"))
            .groupBy("sz")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    base = size_hist(gr.label_propagation_fixed(edges))
    t0 = time.time()
    got = size_hist(gr.label_propagation_fixed(scaled))
    wall = time.time() - t0
    assert got == {k: COPIES * v for k, v in base.items()}
    assert wall < 180, f"label propagation at 10x took {wall:.0f}s"


def test_logbucket_cells_at_10x_values(spark):
    """Log-bucket quantile sketch at 10x the sf0.1 lineitem values: the
    cell GRID is volume-invariant (same (exp, sub) set) and every count
    scales EXACTLY 10x — the mergeability/linearity proof that the
    sketch state stays <= 1024 cells no matter the input volume."""
    from spanner_jdbc_converter_spark.operators import sketches as sk

    li = load_table(spark, SF_DIR, "lineitem").select("l_extendedprice")
    units = F.col("l_extendedprice").cast("decimal(18,2)") * 100
    base = {(r.exp, r.sub): r.cnt for r in sk.logbucket_cells(li, units).collect()}
    scaled = spark.range(COPIES).crossJoin(li)
    t0 = time.time()
    got = {
        (r.exp, r.sub): r.cnt
        for r in sk.logbucket_cells(scaled, units).collect()
    }
    wall = time.time() - t0
    assert got == {k: COPIES * v for k, v in base.items()}
    assert len(got) <= 64 * 2 ** (sk.QSK_SUBBITS + 1)
    assert wall < 120, f"logbucket cells at 10x took {wall:.0f}s"
