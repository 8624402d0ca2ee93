"""Empty- and degenerate-input behavior of the newest operator families.

A 100-TB pipeline routinely produces empty slices (a filter that matches
nothing, a partition with no late data, a day with no events); operators
must return empty frames with the right schema — never throw — and the
degenerate single-row cases must not divide by zero."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spanner_jdbc_converter_spark.operators import graph as gr
from spanner_jdbc_converter_spark.operators import sessions as ss
from spanner_jdbc_converter_spark.operators import sketches as sk

EV_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _empty_events(spark):
    return spark.createDataFrame([], EV_SCHEMA)


def test_sessionization_empty(spark):
    out = ss.session_stats(ss.with_session_index(_empty_events(spark)))
    assert out.count() == 0
    assert set(out.columns) == {
        "user_id", "session_idx", "n_events", "session_start",
        "session_end", "duration_us", "total_value",
    }


def test_transitions_empty_and_single(spark):
    sch = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    assert ss.transition_counts(spark.createDataFrame([], sch)).count() == 0
    one = spark.createDataFrame(
        [Row(user_id=1, event_id=1, ts=dt.datetime(2024, 1, 1), event_type="a")]
    )
    assert ss.transition_counts(one).count() == 0  # no pair, no division


def test_resample_empty_entity_set(spark):
    out = ss.resample_ffill(
        _empty_events(spark), "user_id", "ts", "value",
        "2024-01-01 00:00:00", "2024-01-01 04:00:00",
    )
    assert out.count() == 0  # no entities → no grid rows at all


def test_cms_empty(spark):
    e = spark.createDataFrame([], T.StructType([T.StructField("k", T.LongType())]))
    assert sk.cms_cells(e, F.col("k")).count() == 0
    assert sk.cms_estimates(e, "k").count() == 0


def test_pagerank_single_edge(spark):
    # two nodes, one edge: a dangles nothing, b has no outbound (mass
    # leaks, documented) — must converge without NaN or error
    e = spark.createDataFrame([Row(src="a", dst="b")])
    ranks = {r.node: r.rank for r in gr.pagerank_fixed(e, iterations=2).collect()}
    assert set(ranks) == {"a", "b"}
    assert all(r > 0 for r in ranks.values())
    assert ranks["b"] > ranks["a"]


def test_pipeline_empty_documents(spark):
    from spanner_jdbc_converter_spark.pipeline import curate_documents

    sch = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    out, stages = curate_documents(
        spark.createDataFrame([], sch), token_budget=1000, pack_capacity=64
    )
    assert out.count() == 0
    assert stages["input"] == 0


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def test_per_group_cap_empty_and_single(spark):
    from spanner_jdbc_converter_spark.operators import selection as sel

    empty = spark.createDataFrame([], DOC_SCHEMA)
    assert sel.per_group_cap(empty, "source", "doc_id", 5).count() == 0
    one = spark.createDataFrame([(1, "t", "s")], DOC_SCHEMA)
    assert sel.per_group_cap(one, "source", "doc_id", 5).count() == 1


def test_build_vocab_and_encode_empty(spark):
    from spanner_jdbc_converter_spark.operators import text as tx

    empty = spark.createDataFrame([], DOC_SCHEMA)
    vocab = tx.build_vocab(empty)
    assert vocab.count() == 0
    assert tx.encode_tokens(empty, vocab).count() == 0
    # all tokens below min_count -> empty vocab, empty encoding
    uniq = spark.createDataFrame([(1, "unique words only here", "s")], DOC_SCHEMA)
    assert tx.build_vocab(uniq, min_count=2).count() == 0


def test_verified_near_pairs_empty_and_degenerate(spark):
    from spanner_jdbc_converter_spark.operators import dedup as dd

    empty = spark.createDataFrame([], DOC_SCHEMA)
    assert dd.verified_near_pairs(empty).count() == 0
    # single doc: no pairs
    one = spark.createDataFrame([(1, "a b c d e", "s")], DOC_SCHEMA)
    assert dd.verified_near_pairs(one).count() == 0
    # sub-ngram docs sign over the whole-text fallback gram; a candidate
    # pair of IDENTICAL degenerate docs must be verified (jaccard 1.0),
    # not silently dropped in the gram join (ADVICE r6)
    degen = spark.createDataFrame(
        [(1, "tiny doc", "s"), (2, "tiny doc", "s"), (3, "other one", "s")],
        DOC_SCHEMA,
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in dd.verified_near_pairs(degen).collect()}
    assert got == {(1, 2): 1.0}


def test_embedding_lsh_pairs_empty(spark):
    from spanner_jdbc_converter_spark.operators import dedup as dd

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert dd.embedding_near_pairs_lsh(empty).count() == 0


def test_ewma_empty(spark, tmp_path):
    from spanner_jdbc_converter_spark.plans.behavior import events_ewma_smoothing

    spark.createDataFrame([], EV_SCHEMA).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    assert events_ewma_smoothing(spark, str(tmp_path)).count() == 0


def test_temperature_mix_empty_and_single_group(spark):
    from spanner_jdbc_converter_spark.operators import selection as sel

    empty = spark.createDataFrame([], "doc_id long, source string")
    assert sel.temperature_mix_sample(empty, "source", "doc_id").count() == 0
    one = spark.createDataFrame(
        [(i, "only") for i in range(200)], "doc_id long, source string"
    )
    kept = sel.temperature_mix_sample(one, "source", "doc_id", target_frac=0.4).count()
    # single group: rate == target_frac exactly (hash-sampled around 80)
    assert 40 <= kept <= 120


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def test_nb_classifier_and_dsir_empty(spark):
    from spanner_jdbc_converter_spark.operators import text as tx

    empty = spark.createDataFrame([], DOC_SCHEMA)
    out = tx.nb_reference_classifier(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_tokens", "nb_logodds", "pred_ref",
    ]
    sel = tx.dsir_importance(empty)
    assert sel.count() == 0
    assert [f.name for f in sel.schema.fields] == [
        "doc_id", "source", "n_bigrams", "log_weight", "selected",
    ]


def test_ngram_novelty_empty_and_all_novel(spark):
    """Empty batch -> empty output; empty corpus -> every batch gram is
    novel (novelty exactly 1.0), never a throw or a NULL ratio."""
    from spanner_jdbc_converter_spark.operators import text as tx

    empty = spark.createDataFrame([], DOC_SCHEMA)
    docs = spark.createDataFrame(
        [(1, "one two three four", "s")], DOC_SCHEMA
    )
    assert tx.ngram_novelty(docs, empty).count() == 0
    out = tx.ngram_novelty(empty, docs).collect()
    assert len(out) == 1
    assert out[0].n_grams == 2 and out[0].n_novel == 2
    assert out[0].novelty == 1.0


EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def test_kcenter_coreset_empty_and_k_exceeds_corpus(spark):
    """Empty corpus -> empty (id, rank, mindist) frame, no TypeError on
    the missing seed (ADVICE r10); k > |corpus| -> one row per point,
    ranks dense from 1."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    empty = spark.createDataFrame([], EMB_SCHEMA)
    out = cl.kcenter_coreset(empty, k=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "center_rank", "mindist",
    ]

    three = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 2.0])], EMB_SCHEMA
    )
    rows = cl.kcenter_coreset(three, k=10).orderBy("center_rank").collect()
    assert [r.center_rank for r in rows] == [1, 2, 3]
    assert {r.vec_id for r in rows} == {1, 2, 3}
    # seed = min id; farthest-first: 3 (dist 4) before 2 (dist 1)
    assert [r.vec_id for r in rows] == [1, 3, 2]
    assert rows[0].mindist == 0.0 and rows[1].mindist == 4.0


def test_mmr_rerank_empty_and_k_select_exceeds_candidates(spark):
    """Empty queries/corpus -> empty frame with the contract schema;
    k_select > available candidates -> all candidates selected, ranks
    dense, no infinite loop."""
    from spanner_jdbc_converter_spark.operators import similarity as sim

    empty = spark.createDataFrame([], EMB_SCHEMA)
    pts = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])], EMB_SCHEMA
    )
    out_cols = ["query_id", "match_id", "mmr_rank", "relevance", "mmr_score"]
    for q, c in ((empty, pts), (pts, empty), (empty, empty)):
        out = sim.mmr_rerank(q, c, k_candidates=5, k_select=3)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == out_cols

    one_q = spark.createDataFrame([(7, [1.0, 0.0])], EMB_SCHEMA)
    got = (
        sim.mmr_rerank(one_q, pts, k_candidates=10, k_select=50)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r.mmr_rank for r in got] == [1, 2, 3]
    assert {r.match_id for r in got} == {1, 2, 3}


def test_scd2_and_attribution_empty(spark):
    from spanner_jdbc_converter_spark.operators.sessions import scd2_intervals

    ev_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    empty = spark.createDataFrame([], ev_schema)
    out = scd2_intervals(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "user_id", "event_type", "valid_from", "valid_to", "is_current",
    ]


def test_mixed_lang_windows_empty_and_short(spark):
    from spanner_jdbc_converter_spark.operators import text as tx

    empty = spark.createDataFrame([], DOC_SCHEMA)
    assert tx.mixed_lang_windows(empty).count() == 0
    docs = spark.createDataFrame(
        [(1, "", "s"), (2, "the of and", "s")], DOC_SCHEMA
    )
    rows = tx.mixed_lang_windows(docs).collect()
    # zero-token doc emits nothing; the 3-token doc is one consistent window
    assert len(rows) == 1
    [r] = rows
    assert (r.doc_id, r.majority_lang, r.n_windows, r.consistency) == (2, "en", 1, 1.0)


def test_winnow_fingerprints_empty(spark):
    from spanner_jdbc_converter_spark.operators import dedup as dd

    assert dd.winnow_fingerprints(spark.createDataFrame([], DOC_SCHEMA)).count() == 0


def test_power_iteration_pc1_empty_and_degenerate(spark):
    """Empty corpus -> empty frame with the contract schema; a single
    point centers to the zero matrix, so pc1 must report all-zero
    loadings with eigval 0.0 — never a division by the zero norm."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    empty = spark.createDataFrame([], EMB_SCHEMA)
    out = cl.power_iteration_pc1(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "pos", "mu", "pc1", "eigval", "n_vecs",
    ]

    one = spark.createDataFrame([(1, [3.0, -2.0])], EMB_SCHEMA)
    rows = cl.power_iteration_pc1(one, dim=2).orderBy("pos").collect()
    assert [(r.mu, r.pc1, r.eigval, r.n_vecs) for r in rows] == [
        (3.0, 0.0, 0.0, 1),
        (-2.0, 0.0, 0.0, 1),
    ]


def test_pq_topk_empty_corpus(spark):
    """Empty queries/corpus: no codebooks can train, so the result is
    an empty frame with the contract schema — never a crash in the
    seed collect or the LUT construction."""
    from spanner_jdbc_converter_spark.operators import similarity as sim

    empty = spark.createDataFrame([], EMB_SCHEMA)
    out = sim.pq_topk(empty, empty, k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "match_id", "adot", "score", "rank",
    ]


def test_pca2_coords_empty(spark):
    from spanner_jdbc_converter_spark.operators import clustering as cl

    out = cl.pca2_coords(spark.createDataFrame([], EMB_SCHEMA))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "pc1_coord", "pc2_coord", "eig1", "eig2",
    ]


def test_ivfpq_topk_empty_corpus(spark):
    from spanner_jdbc_converter_spark.operators import similarity as sim

    empty = spark.createDataFrame([], EMB_SCHEMA)
    out = sim.ivfpq_topk(empty, empty, k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "match_id", "adot", "score", "rank",
    ]


def test_ann_recall_report_empty_corpus(spark):
    """Empty queries/corpus: the report still emits one row per method
    with recall exactly 0.0 — never a 0/0 NaN."""
    from spanner_jdbc_converter_spark.operators import similarity as sim

    empty = spark.createDataFrame([], EMB_SCHEMA)
    rows = sim.ann_recall_report(empty, empty, k=5).orderBy("method").collect()
    assert [r.method for r in rows] == [
        "ivf", "ivfpq", "ivfpq_refine", "ivfpq_residual",
        "ivfpq_residual_refine", "lsh", "opq", "pq", "quantized",
    ]
    assert all((r.n_exact, r.n_hits, r.recall) == (0, 0, 0.0) for r in rows)


def test_perceptron_probe_empty_and_single_class(spark):
    """Empty corpus: the per-round report still emits iters+1 rows with
    n_mis = 0 and error_rate exactly 0.0 (never 0/0); a single-class
    frame trains without error once the first update lands."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    sch = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.LongType()),
        ]
    )
    empty = spark.createDataFrame([], sch)
    rows = cl.perceptron_probe(empty, iters=2, dim=2).orderBy("iter").collect()
    assert [(r.iter, r.n_mis, r.error_rate) for r in rows] == [
        (1, 0, 0.0), (2, 0, 0.0), (3, 0, 0.0),
    ]

    ones = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.5, 0.5], 0)], sch
    )  # all labels even -> y=+1 for every point
    got = cl.perceptron_probe(ones, iters=2, dim=2).orderBy("iter").collect()
    # round 1 is all-misclassified by construction (w0=0 -> margin 0),
    # afterwards the single class separates perfectly
    assert (got[0].n_mis, got[0].error_rate) == (2, 1.0)
    assert [(r.n_mis, r.error_rate) for r in got[1:]] == [(0, 0.0), (0, 0.0)]


def test_silhouette_report_empty_and_k_exceeds_corpus(spark):
    """Empty corpus -> empty (cluster, n_points, mean_silhouette) frame;
    k > |corpus| degenerates to one singleton cluster per point, which
    still reports every cluster (a=0, b>0 -> silhouette 1.0)."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    empty = spark.createDataFrame([], EMB_SCHEMA)
    out = cl.silhouette_report(empty, k=4, iters=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "cluster", "n_points", "mean_silhouette",
    ]

    pts = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [4.0, 0.0]), (2, [0.0, 4.0])], EMB_SCHEMA
    )
    rows = (
        cl.silhouette_report(pts, k=10, iters=2)
        .orderBy("cluster")
        .collect()
    )
    assert [(r.cluster, r.n_points, r.mean_silhouette) for r in rows] == [
        (0, 1, 1.0), (1, 1, 1.0), (2, 1, 1.0),
    ]


def test_debounce_events_empty(spark):
    from spanner_jdbc_converter_spark.operators.sessions import debounce_events

    sch = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    out = debounce_events(spark.createDataFrame([], sch))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "user_id", "event_type", "event_id", "kept",
    ]


def test_vector_dim_profile_empty_and_dead_dimension(spark):
    """Empty corpus -> empty profile frame; a constant (dead) dimension
    must report std exactly 0.0 with z extremes 0.0 — the DECIMAL
    rounding of v*v can leave variance a tiny NEGATIVE double, and an
    unclamped sqrt would turn that into NaN (ADVICE r11)."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    empty = spark.createDataFrame([], EMB_SCHEMA)
    out = cl.vector_dim_profile(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "pos", "mean", "std", "z_min", "z_max",
    ]

    # dim 0 is dead (constant 0.7 -> the DECIMAL quantization of v*v
    # leaves variance within ±1e-12 of zero, possibly NEGATIVE), dim 1
    # varies.  The contract: the clamp keeps std a real number ≈ 0 —
    # never NaN — and the z extremes of an (effectively) constant
    # dimension stay 0.0.
    docs = spark.createDataFrame(
        [(i, [0.7, float(i)]) for i in range(7)], EMB_SCHEMA
    )
    rows = {r.pos: r for r in cl.vector_dim_profile(docs).collect()}
    dead = rows[0]
    assert dead.std == dead.std, "std must not be NaN"  # NaN != NaN
    assert 0.0 <= dead.std <= 1e-5
    assert dead.z_min == 0.0 and dead.z_max == 0.0
    assert rows[1].std > 0


def test_lsh_operating_report_empty(spark):
    """Empty corpus: all six band rows present, every count 0, every
    rate 0.0 — the all-bins PSI discipline."""
    from spanner_jdbc_converter_spark.operators import dedup as dd

    rows = dd.lsh_operating_report(
        spark.createDataFrame([], DOC_SCHEMA)
    ).orderBy("band_lo").collect()
    assert [r.band_lo for r in rows] == [0.0, 0.5, 0.6, 0.7, 0.8, 0.9]
    assert all(
        (r.n_true, r.n_caught, r.catch_rate, r.n_cand) == (0, 0, 0.0, 0)
        for r in rows
    )


def test_lsh_operating_report_single_doc(spark):
    """A single-document corpus has no pair space at all: all six band
    rows still present, every count 0, every rate 0.0 (VERDICT r12 #7)."""
    from spanner_jdbc_converter_spark.operators import dedup as dd

    one = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "web")], DOC_SCHEMA
    )
    rows = dd.lsh_operating_report(one).orderBy("band_lo").collect()
    assert [r.band_lo for r in rows] == [0.0, 0.5, 0.6, 0.7, 0.8, 0.9]
    assert all(
        (r.n_true, r.n_caught, r.catch_rate, r.n_cand) == (0, 0, 0.0, 0)
        for r in rows
    )


def test_ivfpq_topk_empty_queries_and_books_given(spark):
    """Empty QUERY side against a live corpus (the inverse of the
    existing empty-corpus case) returns an empty, correctly-shaped
    frame; a caller-supplied codebook dict (the session-cache path the
    registry entry uses) scores without retraining (VERDICT r12 #7)."""
    from spanner_jdbc_converter_spark.operators import similarity as sim
    from spanner_jdbc_converter_spark.operators.similarity import _pq_train

    corpus = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 + 1) for j in range(64)]) for i in range(20)],
        EMB_SCHEMA,
    )
    books = _pq_train(corpus, 4, 8, 2, 64, "embedding", "vec_id")
    out = sim.ivfpq_topk(spark.createDataFrame([], EMB_SCHEMA), corpus, k=5, books=books)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "match_id", "adot", "score", "rank",
    ]
    got = sim.ivfpq_topk(
        corpus.filter(F.col("vec_id") % 10 == 0), corpus, k=3, books=books
    )
    assert got.count() > 0
    assert got.groupBy("query_id").count().filter("count > 3").count() == 0


def test_rfm_segments_single_purchaser(spark, tmp_path):
    """One purchasing user: every quintile boundary collapses to that
    user's own value, so nbin counts zero strictly-greater boundaries —
    f_score = m_score = 1, r_score = 6 − 1 = 5, segment 511
    (VERDICT r12 #7: the all-boundaries-equal degenerate)."""
    from spanner_jdbc_converter_spark.plans.behavior import events_rfm_segments

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        Row(event_id=1, ts=t0, user_id=7, event_type="purchase", value=10.0),
        Row(event_id=2, ts=t0 + dt.timedelta(hours=1), user_id=7,
            event_type="purchase", value=5.0),
        Row(event_id=3, ts=t0 + dt.timedelta(hours=2), user_id=9,
            event_type="click", value=1.0),
    ]
    spark.createDataFrame(rows).repartition(1).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = events_rfm_segments(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.user_id, r.f, r.m) == (7, 2, 15.0)
    assert (r.r_score, r.f_score, r.m_score, r.segment) == (5, 1, 1, 511)


def test_residual_ivfpq_topk_empty_and_books_given(spark):
    """Empty corpus -> empty books -> empty shaped frame; empty queries
    against a live corpus -> empty; caller-supplied residual codebooks
    (the registry's session-cache path) score without retraining."""
    from spanner_jdbc_converter_spark.operators import similarity as sim

    empty = spark.createDataFrame([], EMB_SCHEMA)
    out = sim.residual_ivfpq_topk(empty, empty, k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "match_id", "adot", "score", "rank",
    ]

    corpus = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 + 1) for j in range(64)]) for i in range(20)],
        EMB_SCHEMA,
    )
    books = sim.residual_pq_train(corpus)
    assert sim.residual_ivfpq_topk(empty, corpus, k=5, books=books).count() == 0
    got = sim.residual_ivfpq_topk(
        corpus.filter(F.col("vec_id") % 10 == 0), corpus, k=3, books=books
    )
    assert got.count() > 0
    assert got.groupBy("query_id").count().filter("count > 3").count() == 0


def test_image_phash_empty_and_single(spark):
    """Empty hash frame -> empty pair frame with the right schema; a
    single image has no pair space."""
    from spanner_jdbc_converter_spark.operators import dedup as dd
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    empty = spark.createDataFrame([], "doc_id long, dhash long")
    out = dd.hamming_band_pairs(empty, "dhash", "doc_id", bits=mm.DHASH_BITS)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "hamming"]
    one = spark.range(1).select(F.col("id").alias("doc_id"))
    hashes = mm.decode_pgm_dhash(mm.attach_pgm_payload(one))
    assert dd.hamming_band_pairs(
        hashes, "dhash", "doc_id", bits=mm.DHASH_BITS
    ).count() == 0


def test_lsh_banding_frontier_empty_report(spark):
    """An all-zero (or empty) operating report still yields all five
    configs with 0.0 rates and exactly one deterministic
    recommendation — never a 0/0."""
    from spanner_jdbc_converter_spark.operators import dedup as dd

    empty = spark.createDataFrame(
        [], "band_lo double, n_true long, n_caught long, catch_rate double, n_cand long"
    )
    rows = dd.lsh_banding_frontier(empty).orderBy("bands").collect()
    assert [(r.bands, r.rows) for r in rows] == [
        (1, 16), (2, 8), (4, 4), (8, 2), (16, 1),
    ]
    assert all(
        (r.exp_caught, r.exp_fp, r.exp_recall, r.exp_precision, r.exp_f1)
        == (0.0, 0.0, 0.0, 0.0, 0.0)
        for r in rows
    )
    assert sum(1 for r in rows if r.recommended) == 1


def test_unigram_lm_learn_empty(spark):
    from spanner_jdbc_converter_spark.operators import text as tx

    empty = spark.createDataFrame([], DOC_SCHEMA)
    pieces, seg = tx.unigram_lm_learn(empty)
    assert pieces.count() == 0
    assert [f.name for f in pieces.schema.fields] == [
        "piece", "n_used", "ln_prob",
    ]
    assert seg.count() == 0
    assert [f.name for f in seg.schema.fields] == [
        "w", "cnt", "n_pieces", "segmentation",
    ]


def test_image_groups_and_unigram_encode_empty(spark, tmp_path):
    """Empty pair graph -> empty group frame; an empty vocabulary join
    (no documents) -> empty encode stream."""
    from spanner_jdbc_converter_spark.operators import dedup as dd

    empty_pairs = spark.createDataFrame(
        [], "id_a long, id_b long, hamming long"
    )
    out = dd.connected_groups(empty_pairs)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "group_id"]


def test_k_anonymity_empty_and_single_class(spark):
    from spanner_jdbc_converter_spark.operators import validate as vd

    sch = "uid long, zip string, seg string"
    empty = spark.createDataFrame([], sch)
    out = vd.k_anonymity_report(empty, ["zip", "seg"], k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "zip", "seg", "class_size", "k_anonymous",
    ]
    one = spark.createDataFrame(
        [(i, "941", "a") for i in range(5)] + [(9, "942", "b")], sch
    )
    rows = {(r.zip, r.seg): (r.class_size, r.k_anonymous)
            for r in vd.k_anonymity_report(one, ["zip", "seg"], k=3).collect()}
    assert rows == {("941", "a"): (5, True), ("942", "b"): (1, False)}


def test_k_anonymity_null_quasi_identifiers(spark):
    """VERDICT r13 #9: NULL-as-class semantics pinned — rows whose
    quasi-identifier is NULL form their OWN equivalence class (groupBy
    treats NULL as a key value, matching the release-audit intuition
    that "zip unknown" is itself a linkable attribute value), never
    merge with a non-NULL class, and (NULL, x) vs (NULL, y) stay
    distinct classes."""
    from spanner_jdbc_converter_spark.operators import validate as vd

    sch = "uid long, zip string, seg string"
    df = spark.createDataFrame(
        [(1, None, "a"), (2, None, "a"), (3, None, "b"), (4, "941", "a"),
         (5, "941", "a"), (6, "941", "a")],
        sch,
    )
    rows = {
        (r.zip, r.seg): (r.class_size, r.k_anonymous)
        for r in vd.k_anonymity_report(df, ["zip", "seg"], k=3).collect()
    }
    assert rows == {
        (None, "a"): (2, False),
        (None, "b"): (1, False),
        ("941", "a"): (3, True),
    }


def test_banding_frontier_truth_mass_zero_band(spark):
    """VERDICT r13 #9: a report whose TRUTH mass is entirely zero (only
    sub-threshold candidate mass in band 0.0) must yield recall 0 and
    F1 0 for every config — never a division error — and still
    recommend exactly one config (the tie-break)."""
    from spanner_jdbc_converter_spark.operators import dedup as dd

    report = spark.createDataFrame(
        [(0.0, 0, 0, 0.0, 500), (0.5, 0, 0, 0.0, 0), (0.6, 0, 0, 0.0, 0),
         (0.7, 0, 0, 0.0, 0), (0.8, 0, 0, 0.0, 0), (0.9, 0, 0, 0.0, 0)],
        "band_lo double, n_true long, n_caught long, catch_rate double, n_cand long",
    )
    rows = dd.lsh_banding_frontier(report).orderBy("bands").collect()
    assert all(r.exp_recall == 0.0 and r.exp_f1 == 0.0 for r in rows)
    assert all(r.exp_caught == 0.0 for r in rows)
    assert any(r.exp_fp > 0.0 for r in rows)  # the fp mass still scales
    assert sum(1 for r in rows if r.recommended) == 1


def test_audio_video_fingerprints_empty_inputs(spark):
    """Empty payload frames flow through both new fingerprint decoders
    with the right empty schemas (r14 additions)."""
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    empty = spark.createDataFrame([], "doc_id long, payload binary")
    afp = mm.decode_wav_chromaprint(empty)
    assert afp.count() == 0
    assert [f.name for f in afp.schema.fields] == ["doc_id", "win_id", "afp"]
    vfp = mm.decode_y4m_frame_dhash(empty)
    assert vfp.count() == 0
    assert [f.name for f in vfp.schema.fields] == [
        "doc_id", "frame_index", "fdhash",
    ]


def test_mixture_waterfill_semantics_and_empty(spark):
    """Saturation semantics pinned on a skewed hand frame: the small
    source's 1.2-epoch cap binds (√n upweights it past the cap), the
    large source takes the leftover, and the total allocation meets the
    budget.  Empty counts → empty output, right schema.  Budget beyond
    Σcap → every source saturates and the total clamps to Σcap."""
    from spanner_jdbc_converter_spark.operators import selection as sel

    sch = "source string, n_tokens long"
    counts = spark.createDataFrame(
        [("tiny", 100), ("big", 10000)], sch
    )
    out = {r.source: r for r in sel.mixture_waterfill(counts).collect()}
    assert out["tiny"].saturated and not out["big"].saturated
    assert out["tiny"].alloc_tokens == float(out["tiny"].cap_tokens) == 120.0
    # budget = 23/20 of 10100 = 11615; big takes the rest
    assert abs(out["big"].alloc_tokens - (11615 - 120)) < 1e-6
    assert abs(out["big"].epochs - round(11495 / 10000, 6)) < 1e-9
    # epochs never exceed the cap
    assert all(r.epochs <= 1.2 + 1e-9 for r in out.values())

    empty = sel.mixture_waterfill(spark.createDataFrame([], sch))
    assert empty.count() == 0
    assert set(empty.columns) == {
        "source", "n_tokens", "weight_micro", "cap_tokens",
        "saturated", "alloc_tokens", "epochs",
    }

    clamp = {
        r.source: r
        for r in sel.mixture_waterfill(counts, budget_tokens=50000).collect()
    }
    assert all(r.saturated for r in clamp.values())
    assert sum(r.alloc_tokens for r in clamp.values()) == 120 + 12000

    # a ZERO-token source (everything filtered upstream) must not poison
    # the λ sort with 0/0 (ANSI divide-by-zero): it routes around the
    # waterfill with alloc 0 / 0 epochs, and the positive sources keep
    # the exact allocation they get without it
    withzero = spark.createDataFrame(
        [("empty", 0), ("tiny", 100), ("big", 10000)], sch
    )
    wz = {r.source: r for r in sel.mixture_waterfill(withzero).collect()}
    assert (wz["empty"].alloc_tokens, wz["empty"].epochs) == (0.0, 0.0)
    assert not wz["empty"].saturated
    assert wz["tiny"].alloc_tokens == out["tiny"].alloc_tokens
    assert wz["big"].alloc_tokens == out["big"].alloc_tokens


def test_silence_and_scene_stats_degenerate(spark):
    """Hand-frame run/scene semantics plus empties: a clip that is all
    silence is one full-length run with lead == tail == n; a one-frame
    clip is one scene; empty inputs stay empty with the full schema."""
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    esch = "doc_id long, frame_index long, energy long"
    rows = [
        # doc 1: S S L L S -> runs [0-1],[4]: n_runs 2, longest 2
        (1, 0, 0), (1, 1, 5), (1, 2, 10**9), (1, 3, 10**9), (1, 4, 100),
        # doc 2: all silent
        (2, 0, 1), (2, 1, 2), (2, 2, 3),
        # doc 3: no silence
        (3, 0, 10**9),
    ]
    out = {
        r.doc_id: r
        for r in mm.silence_stats(spark.createDataFrame(rows, esch)).collect()
    }
    assert (out[1].n_runs, out[1].longest_run) == (2, 2)
    assert (out[1].lead_silent, out[1].tail_silent) == (2, 1)
    assert (out[2].n_silent, out[2].n_runs, out[2].lead_silent,
            out[2].tail_silent) == (3, 1, 3, 3)
    assert (out[3].n_silent, out[3].n_runs, out[3].longest_run) == (0, 0, 0)
    assert mm.silence_stats(spark.createDataFrame([], esch)).count() == 0

    fsch = "doc_id long, frame_index long, fdhash long"
    frames = [
        # doc 1: identical, identical, far (> 8 bits), identical
        (1, 0, 0), (1, 1, 0), (1, 2, (1 << 9) - 1), (1, 3, (1 << 9) - 1),
        # doc 2: a single frame is a single scene
        (2, 0, 42),
    ]
    sc = {
        r.doc_id: r
        for r in mm.frame_scene_stats(
            spark.createDataFrame(frames, fsch)
        ).collect()
    }
    assert (sc[1].n_scenes, sc[1].longest_scene) == (2, 2)
    assert (sc[2].n_frames, sc[2].n_scenes) == (1, 1)
    empty = mm.frame_scene_stats(spark.createDataFrame([], fsch))
    assert empty.count() == 0
    assert set(empty.columns) == {"doc_id", "n_frames", "n_scenes", "longest_scene"}


def test_intradoc_scrub_semantics_single_pass_and_empty(spark):
    """Hand docs pin the repeat-coverage rule: the FIRST occurrence
    always survives, a doc of pure repetition collapses to its first
    span, a repeat-free doc passes through untouched, and empty text
    yields ('', 0 removed) rather than NULL.  The scrub is ONE pass
    against the original span positions — NOT idempotent in general
    (ADVICE r14): removal can create new adjacent repeats, and the
    counterexample below pins that documented behavior."""
    from spanner_jdbc_converter_spark.operators import text as tx

    sch = "doc_id long, text string"
    rows = [
        (1, "x y z x y z x y z"),   # pure repetition -> first span only
        (2, "a b c d e f"),          # no repeats -> untouched
        (3, ""),                     # empty
        (4, "p q r s p q r t"),      # repeat 'p q r' at pos 4 covers 4-6
    ]
    out = {
        r.doc_id: r
        for r in tx.intradoc_scrub(spark.createDataFrame(rows, sch)).collect()
    }
    assert out[1].clean_text == "x y z" and out[1].n_removed == 6
    assert out[2].clean_text == "a b c d e f" and out[2].n_removed == 0
    assert out[3].clean_text == "" and out[3].n_removed == 0
    assert out[4].clean_text == "p q r s t" and out[4].n_removed == 3

    # Re-scrubbing THESE cleaned docs happens to be a no-op (no new
    # repeats were created) — that is a property of the docs, not of
    # the operator.
    cleaned = spark.createDataFrame(
        [(r.doc_id, r.clean_text) for r in out.values()], sch
    )
    again = {r.doc_id: r for r in tx.intradoc_scrub(cleaned).collect()}
    for i, r in out.items():
        assert again[i].clean_text == r.clean_text
        assert again[i].n_removed == 0

    # ADVICE r14 counterexample: the one-pass scrub is NOT idempotent.
    # 'a b a b b b b a' at ngram=3: repeat spans start at 3 ('b b b'
    # repeats? no — spans are ('a b a',0) ('b a b',1) ('a b b',2)
    # ('b b b',3) ('b b b',4)=repeat ('b b a',5); the repeat at 4
    # covers tokens 4-6) -> kept 'a b a b a'; a SECOND pass sees the
    # new repeat 'a b a' and reduces further to 'a b'.
    hard = spark.createDataFrame([(9, "a b a b b b b a")], sch)
    once = tx.intradoc_scrub(hard).collect()[0]
    assert once.clean_text == "a b a b a"
    twice = tx.intradoc_scrub(
        spark.createDataFrame([(9, once.clean_text)], sch)
    ).collect()[0]
    assert twice.clean_text == "a b"  # strictly shrinks: one pass != fixpoint


def test_crossdoc_scrub_semantics_and_empty(spark):
    """Hand docs pin the cross-document rule (ngram=3 for visibility):
    a span's FIRST document (min id) survives untouched, every later
    doc loses the covered words, intra-doc-only repeats are NOT this
    operator's business, and empty text yields ('', 0 removed)."""
    from spanner_jdbc_converter_spark.operators import text as tx

    sch = "doc_id long, text string"
    rows = [
        (1, "a b c d e f"),          # owns 'a b c' (first occurrence)
        (2, "x a b c y z"),          # loses the copied span
        (3, "a b c q r"),            # loses it too (start 0)
        (4, "p q r p q r"),          # intra-doc repeat only -> untouched
        (5, ""),                     # empty
    ]
    out = {
        r.doc_id: r
        for r in tx.crossdoc_scrub(
            spark.createDataFrame(rows, sch), ngram=3
        ).collect()
    }
    assert out[1].clean_text == "a b c d e f" and out[1].n_removed == 0
    assert out[2].clean_text == "x y z" and out[2].n_removed == 3
    assert out[3].clean_text == "q r" and out[3].n_removed == 3
    assert out[4].clean_text == "p q r p q r" and out[4].n_removed == 0
    assert out[5].clean_text == "" and out[5].n_removed == 0


def test_crossdoc_scrub_idempotent_on_fixture(spark, sf_dir):
    """One corpus-wide pass at the production width (32 words) removes
    every cross-doc verbatim span the fixture contains; re-scrubbing
    the cleaned corpus removes nothing.  (A property of this corpus —
    reassembly could in principle mint new 32-gram coincidences; the
    operator documents single-pass semantics.)"""
    from pyspark.sql import functions as F

    from spanner_jdbc_converter_spark.catalog import load_table
    from spanner_jdbc_converter_spark.operators import text as tx

    d = load_table(spark, sf_dir, "documents")
    once = tx.crossdoc_scrub(d)
    n_hit = once.filter(F.col("n_removed") > 0).count()
    assert n_hit > 0, "fixture must exercise the cross-doc path"
    again = tx.crossdoc_scrub(
        once.select("doc_id", F.col("clean_text").alias("text"))
    )
    assert again.filter(F.col("n_removed") > 0).count() == 0


def test_triangle_counts_hand_graph_and_empty(spark):
    """Hand graph pins the degree-oriented closure: K4 minus one edge
    has exactly two triangles sharing an edge; per-node counts and
    clustering coefficients follow in closed form.  Empty and
    triangle-free inputs return the right shapes."""
    from spanner_jdbc_converter_spark.operators import graph as gr

    sch = "src long, dst long"
    # K4 on {1,2,3,4} minus edge (3,4): triangles {1,2,3} and {1,2,4}
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
    out = {
        r.node: r
        for r in gr.triangle_counts(
            spark.createDataFrame(edges, sch), with_clustering=True
        ).collect()
    }
    assert {n: r.n_triangles for n, r in out.items()} == {1: 2, 2: 2, 3: 1, 4: 1}
    assert out[1].degree == 3 and out[1].clustering == round(2 * 2 / (3 * 2), 6)
    assert out[3].degree == 2 and out[3].clustering == 1.0

    # triangle-free path graph: zero counts, zero coefficients
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], sch)
    rows = gr.triangle_counts(path, with_clustering=True).collect()
    assert all(r.n_triangles == 0 and r.clustering == 0.0 for r in rows)
    assert {r.node for r in rows} == {2, 3}  # degree-1 endpoints excluded
    # default shape keeps EVERY node (graph_triangle_brands contract)
    assert {r.node for r in gr.triangle_counts(path).collect()} == {1, 2, 3, 4}

    # empty edge set
    assert gr.triangle_counts(spark.createDataFrame([], sch)).count() == 0

    # duplicate + reversed + self-loop edges collapse to the same graph
    noisy = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (1, 1), (2, 3), (3, 1)], sch
    )
    got = {r.node: r.n_triangles for r in gr.triangle_counts(noisy).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_weighted_reservoir_semantics_and_edges(spark):
    """Pure-Python replay of the A-ES key (same md5 uniform, same
    round-6 −ln(u)/w, same (key, id) tiebreak) must select the exact
    same K; zero/negative weights are excluded; K ≥ group size returns
    the whole group ranked."""
    import hashlib
    import math

    from spanner_jdbc_converter_spark.operators import selection as sel

    def u_of(i: int) -> float:
        h = int(hashlib.md5(f"wres:{i}".encode()).hexdigest()[:15], 16)
        return (h + 1) / float(1 << 60)

    rows = [(i, "g", float(50 + (i * 37) % 900)) for i in range(40)]
    rows += [(100, "g", 0.0), (101, "g", -5.0)]  # excluded: w <= 0
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    out = sel.weighted_reservoir(df, "source", "doc_id", "w", k=7).collect()
    got = [(r.doc_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]

    keyed = sorted(
        (round(-math.log(u_of(i)) / w, 6), i) for i, _g, w in rows if w > 0
    )
    want = [(i, rk + 1) for rk, (_k, i) in enumerate(keyed[:7])]
    assert got == want

    # K >= group size: everything survives, ranked
    all_out = sel.weighted_reservoir(df, "source", "doc_id", "w", k=1000)
    assert all_out.count() == 40  # the two non-positive weights stay out

    # empty input
    empty = spark.createDataFrame([], "doc_id long, source string, w double")
    assert sel.weighted_reservoir(empty, "source", "doc_id", "w", k=3).count() == 0


def test_kcore_and_label_propagation_empty_edges(spark):
    """Empty (or all-self-loop) edge frames return empty results with
    the operator schemas — never a ZeroDivisionError from the
    data-relative threshold (review r17)."""
    from spanner_jdbc_converter_spark.operators import graph as gr

    empty = spark.createDataFrame([], "src long, dst long")
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    for edges in (empty, loops):
        out = gr.kcore_peel_layers(edges)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["node", "layer"]
        lp = gr.label_propagation_fixed(edges)
        assert lp.count() == 0
        assert [f.name for f in lp.schema.fields] == ["node", "community"]
