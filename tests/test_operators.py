"""Extension-operator tests beyond the oracle corpus: approximate methods
checked against exact baselines (SURVEY.md §7.4: 'check one against the
other'), multimodal Arrow plumbing, vector math vs numpy."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spanner_jdbc_converter_spark.catalog import load_table
from spanner_jdbc_converter_spark.functions.vector import cosine, dot, norm
from spanner_jdbc_converter_spark.operators import dedup as dd
from spanner_jdbc_converter_spark.operators import multimodal as mm
from spanner_jdbc_converter_spark.operators import similarity as sim
from spanner_jdbc_converter_spark.operators import text as tx


# -- vector math vs numpy ---------------------------------------------------


def test_vector_ops_match_numpy(spark):
    a = [1.5, -2.0, 3.25, 0.0]
    b = [0.5, 4.0, -1.0, 2.0]
    df = spark.createDataFrame([(a, b)], "va array<float>, vb array<float>")
    row = df.select(
        dot("va", "vb").alias("d"), norm("va").alias("na"), cosine("va", "vb").alias("c")
    ).first()
    na, nb = np.array(a, dtype=np.float32), np.array(b, dtype=np.float32)
    assert row["d"] == pytest.approx(float(np.dot(na.astype(float), nb.astype(float))), rel=1e-12)
    assert row["na"] == pytest.approx(float(np.linalg.norm(na.astype(float))), rel=1e-12)
    expected_c = float(
        np.dot(na.astype(float), nb.astype(float))
        / (np.linalg.norm(na.astype(float)) * np.linalg.norm(nb.astype(float)))
    )
    assert row["c"] == pytest.approx(expected_c, rel=1e-12)


# -- text helpers -----------------------------------------------------------


def test_tokens_and_ngrams(spark):
    df = spark.createDataFrame([("The  quick brown fox ",)], "text string")
    row = df.select(
        tx.tokens("text").alias("t"),
        tx.word_ngrams("text", 3).alias("g3"),
        tx.char_ngrams("text", 3).alias("c3"),
        tx.token_count("text").alias("n"),
    ).first()
    assert row["t"] == ["the", "quick", "brown", "fox"]
    assert row["g3"] == ["the quick brown", "quick brown fox"]
    assert row["n"] == 4
    assert row["c3"][:3] == ["the", "he ", "e  "]


def test_lang_id_tiebreak_und(spark):
    df = spark.createDataFrame(
        [("xyzzy plugh",), ("the of and a widget",), ("der die und das ist",)],
        "text string",
    )
    out = [r["lang"] for r in df.select(tx.lang_id("text").alias("lang")).collect()]
    assert out[0] == "und"
    assert out[1] == "en"
    assert out[2] == "de"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("  HELLO\tWORLD ",), ("different",)],
        "text string",
    )
    fps = [r["fp"] for r in df.select(tx.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2] != fps[3]


# -- dedup ------------------------------------------------------------------


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """20 base docs + near-dup variants (1-word edits) + 1 exact dup."""
    base = [
        (i, " ".join(f"tok{i}_{j}" for j in range(30)) + " the a of and common tail words here")
        for i in range(20)
    ]
    rows = list(base)
    # near dup of doc 0: one token changed
    rows.append((100, base[0][1].replace("tok0_5", "tokX_5")))
    # exact dup of doc 1
    rows.append((101, base[1][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_and_fingerprint_dedup(spark, near_dup_docs):
    assert dd.exact_dedup(near_dup_docs, ["text"]).count() == 21  # one exact dup
    kept = dd.fingerprint_dedup(near_dup_docs)
    assert kept.count() == 21
    # deterministic keeper: doc 1 survives, 101 dropped
    ids = {r["doc_id"] for r in kept.collect()}
    assert 1 in ids and 101 not in ids


def test_lsh_finds_near_dups(spark, near_dup_docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dd.lsh_candidate_pairs(near_dup_docs).collect()}
    assert (0, 100) in pairs  # near dup caught
    assert (1, 101) in pairs  # exact dup caught
    # unrelated docs (disjoint shingles) don't flood the candidate set
    assert len(pairs) < 30


def test_jaccard_verifies_lsh_candidates(spark, near_dup_docs):
    jac = dd.jaccard_pairs(near_dup_docs, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac.collect()}
    assert pairs[(1, 101)] == 1.0
    assert 0.5 <= pairs[(0, 100)] < 1.0


def test_simhash_near_pairs(spark, near_dup_docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(near_dup_docs).collect()}
    assert sigs[1] == sigs[101]  # identical text -> identical signature
    ham = bin(sigs[0] ^ sigs[100]).count("1")
    assert ham <= 6  # near-dup -> few bits differ
    pairs = {(r["id_a"], r["id_b"]) for r in dd.simhash_near_pairs(near_dup_docs, max_hamming=6, bands=8).collect()}
    assert (1, 101) in pairs
    assert (0, 100) in pairs


def test_embedding_near_pairs_blocked_matches_unblocked(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").limit(100)
    un = dd.embedding_near_pairs(e, threshold=0.3)
    assert un.count() >= 0  # smoke: plan executes
    bl = dd.embedding_near_pairs(e.withColumn("label", F.lit(1)), threshold=0.3, block_col="label")
    assert sorted(map(tuple, un.collect())) == sorted(map(tuple, bl.collect()))


# -- similarity search ------------------------------------------------------


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    exact = sim.cosine_topk(queries, e, k=5).collect()
    approx = sim.lsh_ann_topk(queries, e, k=5, planes=4, tables=8).collect()
    exact_set = {(r["query_id"], r["match_id"]) for r in exact}
    approx_set = {(r["query_id"], r["match_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # random near-orthogonal vectors are LSH's worst case; 8 tables × 4
    # planes must still recover most of the true top-5
    assert recall >= 0.3, f"ANN recall {recall:.2f}"
    # every approx result's cosine must be <= the exact top-1 for that query
    exact_best = {}
    for r in exact:
        if r["rank"] == 1:
            exact_best[r["query_id"]] = r["cosine"]
    for r in approx:
        assert r["cosine"] <= exact_best[r["query_id"]] + 1e-9


def test_topk_rank_determinism(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    r1 = sim.cosine_topk(q, e, k=3).collect()
    r2 = sim.cosine_topk(q, e.repartition(7), k=3).collect()
    assert [(r["match_id"], r["cosine"]) for r in r1] == [(r["match_id"], r["cosine"]) for r in r2]


# -- multimodal -------------------------------------------------------------


def test_attach_payload_and_summary(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    media = mm.attach_payload(d)
    row = media.first()
    assert row["media_meta"]["media_type"] == "text/plain"
    assert row["media_meta"]["byte_len"] == len(row["payload"])
    summary = mm.media_summary(media).first()
    assert summary["n_items"] == d.count()


def test_extract_features_mapinpandas(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(20)
    media = mm.attach_payload(d)
    feats = mm.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["feature"]) == 4
        assert r["byte_len"] > 0
        assert 0 <= r["feature"][1] <= r["feature"][0] <= r["feature"][2] <= 255
    # deterministic across partitionings
    again = {r["doc_id"]: r["feature"] for r in mm.extract_features(media.repartition(5)).collect()}
    for r in rows:
        assert again[r["doc_id"]] == r["feature"]


# -- portable hashing -------------------------------------------------------


def test_md5_long_matches_duckdb(spark, duck):
    from spanner_jdbc_converter_spark.functions.hashing import md5_long, md5_long_sql

    vals = ["", "a", "hello world", "Ünïcødé", "123"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    srow = [r["h"] for r in df.select(md5_long(F.col("s")).alias("h")).collect()]
    for v, sh in zip(vals, srow):
        dh = duck.sql(f"select {md5_long_sql(repr(v))} as h").fetchone()[0]
        assert sh == dh, v


# -- catalog scans (SURVEY.md §2.1 S1/S7, P6) -------------------------------


def test_list_user_tables_filters_system_schemas(spark, sf_dir):
    from spanner_jdbc_converter_spark import catalog as cat

    cat.register_views(spark, sf_dir)
    tables = cat.list_user_tables(spark)
    assert set(cat.FIXTURE_TABLES) <= set(tables)
    assert cat.is_system_schema("information_schema")
    assert cat.is_system_schema("PG_CATALOG")
    assert not cat.is_system_schema("main")


def test_table_exists_in_source_semi_join():
    from spanner_jdbc_converter_spark.catalog import table_exists_in_source

    # keeps destination order, case-insensitive match, drops missing
    out = table_exists_in_source(["ORDERS", "lineitem"], ["lineitem", "orders", "ghost"])
    assert out == ["lineitem", "orders"]


def test_ivf_topk_results_bounded_by_exact(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    exact = sim.cosine_topk(queries, e, k=1).collect()
    best = {r["query_id"]: r["cosine"] for r in exact}
    approx = sim.ivf_topk(queries, e, k=5, nprobe=3, centroid_stride=100).collect()
    assert approx, "ivf returned no candidates"
    for r in approx:
        # approximate scores can never beat the exact best
        assert r["cosine"] <= best[r["query_id"]] + 1e-9


def test_pq_topk_exact_when_each_vector_is_its_own_centroid(spark):
    """With ncode >= |corpus| and iters=1 (seed codebooks only), every
    corpus vector's sub-slices ARE centroids, so encode is lossless and
    the ADC score collapses to the exact cosine — a full-pipeline
    correctness check of slicing, encoding, LUT build, and the ADC sum
    with no quantization error to hide behind."""
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [1.0, 1.0, 1.0, 1.0]),
    ]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = sim.pq_topk(e, e, k=3, m=2, ncode=4, iters=1, dim=4).collect()
    got = {(r.query_id, r.rank): (r.match_id, r.score) for r in rows}
    # q=0: only v3 has a nonzero dot (1 / (1*2)); zero ties order by id
    assert got[(0, 1)] == (3, 0.5)
    assert got[(0, 2)] == (1, 0.0) and got[(0, 3)] == (2, 0.0)
    # q=3: all three score 0.5 -> tie-break ascending match_id
    assert [got[(3, r)] for r in (1, 2, 3)] == [(0, 0.5), (1, 0.5), (2, 0.5)]


def test_power_iteration_pc1_recovers_line_direction(spark):
    """Rank-1 data along (1, 2): pc1 must align with the line (the
    power iteration converges in one round on rank-1 input) and the
    eigenvalue must equal the variance along it."""
    import math

    from spanner_jdbc_converter_spark.operators import clustering as cl

    pts = spark.createDataFrame(
        [(i, [float(t), 2.0 * t]) for i, t in enumerate([-1.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.pos: r for r in cl.power_iteration_pc1(pts, dim=2).collect()}
    u = (1.0 / math.sqrt(5.0), 2.0 / math.sqrt(5.0))
    assert abs(rows[0].pc1 - round(u[0], 6)) <= 1e-6
    assert abs(rows[1].pc1 - round(u[1], 6)) <= 1e-6
    # projections are t*sqrt(5) for t in {-1,0,1}: variance = 10/3
    assert abs(rows[0].eigval - 10.0 / 3.0) < 1e-5
    assert rows[0].n_vecs == 3 and rows[0].mu == 0.0


def test_ivfpq_composes_ivf_candidates_with_pq_scores(spark, sf_dir):
    """Every IVFPQ result pair must be an IVF candidate pair, and its
    (adot, score) must equal pq_topk's for the same pair — the hybrid
    adds NO third error source beyond its two components."""
    from spanner_jdbc_converter_spark.functions.vector import norm as vnorm

    e = load_table(spark, sf_dir, "embeddings").filter(vnorm(F.col("embedding")) > 0)
    q = e.filter(F.col("vec_id") % 50 == 0)
    books = sim._pq_train(e, sim.PQ_M, sim.PQ_NCODE, sim.PQ_ITERS, 64,
                          "embedding", "vec_id")
    hybrid = sim.ivfpq_topk(q, e, k=5, books=books).collect()
    assert hybrid
    cand = {
        (r.query_id, r.match_id)
        for r in sim.ivf_candidates(q, e).collect()
    }
    assert all((r.query_id, r.match_id) in cand for r in hybrid)
    pq_scores = {
        (r.query_id, r.match_id): (r.adot, r.score)
        for r in sim.pq_topk(q, e, k=10**6, books=books).collect()
    }
    assert all(
        pq_scores[(r.query_id, r.match_id)] == (r.adot, r.score) for r in hybrid
    )


def test_pca2_coords_recover_rank2_geometry(spark):
    """Rank-2 data spanning e1 (variance 2) and e3 (variance 0.5): pc1
    coordinates recover the e1 amplitude, pc2 the e3 amplitude, the
    eigenvalues match the axis variances, and the two directions are
    orthogonal (deflation worked)."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    pts = [
        (0, [2.0, 0.0, 0.0, 0.0]),
        (1, [-2.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, -1.0, 0.0]),
    ]
    e = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    rows = {r.vec_id: r for r in cl.pca2_coords(e, dim=4).collect()}
    # 3 fixed rounds converge to within (lam2/lam1)^3 = 1/64 of the axes
    assert abs(rows[0].eig1 - 2.0) < 0.02 and abs(rows[0].eig2 - 0.5) < 0.02
    assert abs(abs(rows[0].pc1_coord) - 2.0) < 0.01
    assert abs(rows[0].pc2_coord) < 0.05
    assert abs(abs(rows[2].pc2_coord) - 1.0) < 0.01
    assert abs(rows[2].pc1_coord) < 0.05
    assert rows[0].pc1_coord == -rows[1].pc1_coord
    assert rows[2].pc2_coord == -rows[3].pc2_coord


def test_column_form_signatures_match_frame_form(spark, near_dup_docs):
    """The one-off Column expressions (minhash_signature / simhash) must
    agree with the hot-path DataFrame pipelines value-for-value."""
    frame_sigs = {r["doc_id"]: list(r["sig"]) for r in dd.minhash_signatures(near_dup_docs).collect()}
    col_sigs = {
        r["doc_id"]: list(r["sig"])
        for r in near_dup_docs.select("doc_id", dd.minhash_signature("text").alias("sig")).collect()
    }
    assert frame_sigs == col_sigs
    frame_sh = {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(near_dup_docs).collect()}
    col_sh = {
        r["doc_id"]: r["sh"]
        for r in near_dup_docs.select("doc_id", dd.simhash("text").alias("sh")).collect()
    }
    assert frame_sh == col_sh


def test_asof_join_matches_naive_range_join(spark, sf_dir):
    """asof_join (union+window) must equal the naive semantics: the
    max-ts right row with ts <= left ts per key, largest id on ties."""
    from pyspark.sql import functions as F

    from spanner_jdbc_converter_spark.catalog import load_table
    from spanner_jdbc_converter_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    clicks = e.filter(F.col("event_type") == "click")

    got = asof_join(purchases, clicks, on="user_id").select(
        "event_id", "match_event_id"
    )

    p = purchases.select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = clicks.select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("p_id").orderBy(F.desc("c_ts"), F.desc("c_id"))
    naive = (
        p.join(c, (p.user_id == c.c_user) & (c.c_ts <= p.p_ts), "left")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("p_id").alias("event_id"), F.col("c_id").alias("match_event_id"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_banded_range_join_matches_theta_join(spark, sf_dir):
    """Bucket-expansion range join must equal the naive theta join,
    including a band that straddles bucket boundaries."""
    from pyspark.sql import functions as F

    from spanner_jdbc_converter_spark.catalog import load_table
    from spanner_jdbc_converter_spark.operators.ranges import banded_range_join

    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [(0, 0.0, 7.5), (1, 7.5, 33.3), (2, 33.3, 500.0)],
        "band_id long, lo double, hi double",
    )
    got = banded_range_join(e, bands, "value", step=10.0).select("event_id", "band_id")
    naive = e.join(
        bands, (e.value >= bands.lo) & (e.value < bands.hi)
    ).select("event_id", "band_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_approx_aggregates_within_tolerance(spark, sf_dir):
    """The scale-path aggregates (HLL distinct, t-digest percentile)
    can't hash-match an oracle — pin them against their exact twins
    instead.  These are what a 100 TB dashboard actually runs."""
    from pyspark.sql import functions as F

    from spanner_jdbc_converter_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.countDistinct("o_custkey").alias("exact_d"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_d"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("approx_p50"),
    ).collect()[0]
    assert abs(row.approx_d - row.exact_d) <= 0.05 * row.exact_d
    assert abs(row.approx_p50 - row.exact_p50) <= 0.02 * row.exact_p50


def test_asof_join_empty_right_keeps_left_with_nulls(spark, sf_dir):
    from pyspark.sql import functions as F

    from spanner_jdbc_converter_spark.catalog import load_table
    from spanner_jdbc_converter_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    none = e.filter(F.lit(False))
    out = asof_join(purchases, none, on="user_id")
    assert out.count() == purchases.count()
    assert out.filter(F.col("match_event_id").isNotNull()).count() == 0


def test_embedding_near_pairs_empty_input(spark, sf_dir):
    from pyspark.sql import functions as F

    from spanner_jdbc_converter_spark.catalog import load_table
    from spanner_jdbc_converter_spark.operators import dedup as dd

    e = load_table(spark, sf_dir, "embeddings").filter(F.lit(False))
    assert dd.embedding_near_pairs(e, threshold=0.0).count() == 0


def test_not_in_with_null_in_set_is_empty(spark, sf_dir):
    """ANSI: x NOT IN (set containing NULL) is never TRUE — the whole
    probe side vanishes.  Pins the null-aware anti join semantics."""
    from spanner_jdbc_converter_spark.catalog import load_table

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("cust_ninn")
    n = spark.sql(
        """
        SELECT COUNT(*) AS n FROM cust_ninn
        WHERE c_nationkey NOT IN (SELECT CAST(NULL AS INT))
        """
    ).collect()[0].n
    assert n == 0


# -- property-based: time-keyed joins on generated data ----------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_event_lists = st.lists(
    st.tuples(
        st.integers(0, 3),        # key
        st.integers(0, 50),       # ts (seconds)
        st.booleans(),            # side: True -> left
    ),
    min_size=0,
    max_size=30,
)


@given(rows=_event_lists)
@settings(max_examples=15, deadline=None)
def test_asof_join_property(spark, rows):
    """asof_join == naive max-earlier-right on arbitrary small inputs,
    including same-timestamp ties (right row at equal ts IS visible)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spanner_jdbc_converter_spark.operators.asof import asof_join

    data = [
        (i, int(k), float(ts), bool(is_left))
        for i, (k, ts, is_left) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, user_id long, sec double, is_left boolean"
    ).withColumn("ts", F.timestamp_seconds(F.col("sec")))
    left = df.filter("is_left").drop("is_left", "sec")
    right = df.filter("NOT is_left").drop("is_left", "sec")

    got = asof_join(left, right, on="user_id").select("event_id", "match_event_id")

    l = left.select(F.col("event_id").alias("l_id"), "user_id", F.col("ts").alias("l_ts"))
    r = right.select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
    )
    w = Window.partitionBy("l_id").orderBy(F.desc("r_ts"), F.desc("r_id"))
    naive = (
        l.join(r, (l.user_id == r.r_user) & (r.r_ts <= l.l_ts), "left")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(F.col("l_id").alias("event_id"), F.col("r_id").alias("match_event_id"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


@given(
    vals=st.lists(st.floats(0, 499, allow_nan=False, width=32), min_size=0, max_size=25),
    bounds=st.lists(st.floats(0, 500, allow_nan=False, width=32), min_size=2, max_size=8),
)
@settings(max_examples=15, deadline=None)
def test_banded_range_join_property(spark, vals, bounds):
    """Bucket-expansion range join == theta join for arbitrary band
    edges (overlapping/degenerate bands included)."""
    from pyspark.sql import functions as F

    from spanner_jdbc_converter_spark.operators.ranges import banded_range_join

    edges = sorted(set(round(b, 3) for b in bounds))
    bands = [
        (i, float(lo), float(hi)) for i, (lo, hi) in enumerate(zip(edges, edges[1:]))
    ]
    if not bands:
        return
    fact = spark.createDataFrame(
        [(i, float(round(v, 3))) for i, v in enumerate(vals)], "row_id long, value double"
    )
    bdf = spark.createDataFrame(bands, "band_id long, lo double, hi double")
    got = banded_range_join(fact, bdf, "value", step=10.0).select("row_id", "band_id")
    naive = fact.join(bdf, (fact.value >= bdf.lo) & (fact.value < bdf.hi)).select(
        "row_id", "band_id"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


# -- connected components: pathological depth -------------------------------


def test_connected_groups_deep_chain(spark):
    """A 41-node path graph has diameter 40 — far beyond what plain
    min-label propagation covers in 25 rounds (one hop per round).  The
    pointer-jumping fallback (label-of-label joins after round 3) must
    collapse it: distance doubles per round, so the chain converges in
    O(log diameter) rounds and every node lands in group 0."""
    n = 41
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = dd.connected_groups(pairs).collect()
    assert len(out) == n
    assert {r.doc_id for r in out} == set(range(n))
    assert {r.group_id for r in out} == {0}


def test_fused_round_probe_equivalence(spark):
    """r18 (VERDICT r17 "Next round #5"): the fused large+small-star
    round keeps ONE probe per round; it must converge in the SAME round
    count and produce the SAME groups as the two-probe (per-phase
    checkpoint) form — the squeeze argument (count non-increasing
    through each phase, sum delta pure-rewrite ≤ 0 when no merge)
    makes the mid-round probe redundant, exercised here on the shapes
    the proof worries about: a deep id-monotone chain, NEGATIVE ids
    where a merge could remove a negative term, and duplicate/reversed
    edges."""
    from pyspark.sql import Observation

    probe_sum = F.sum(
        F.col("a").cast("decimal(38,0)") + F.col("b").cast("decimal(38,0)")
    ).alias("s")
    probe_cnt = F.count(F.lit(1)).alias("n")

    def two_probe_reference(pairs, max_iters=60):
        def _ckpt(df):
            obs = Observation()
            out = dd._stats_reset_checkpoint(
                df.observe(obs, probe_sum, probe_cnt)
            )
            got = obs.get
            return out, (got["s"], got["n"])

        edges, prev_sum = _ckpt(
            pairs.select(
                F.greatest(F.col("id_a"), F.col("id_b")).alias("a"),
                F.least(F.col("id_a"), F.col("id_b")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        nodes = edges.select(
            F.explode(F.array("a", "b")).alias("doc_id")
        ).distinct()
        for i in range(max_iters):
            sym = edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                        F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                    )
                ).alias("e")
            ).select("e.u", "e.v")
            lmins = sym.groupBy("u").agg(F.min("v").alias("mv"))
            large = (
                sym.filter(F.col("v") > F.col("u"))
                .join(lmins, "u")
                .select(
                    F.col("v").alias("a"),
                    F.least(F.col("mv"), F.col("u")).alias("b"),
                )
                .distinct()
            )
            edges, sum_l = _ckpt(large)
            smins = edges.groupBy("a").agg(F.min("b").alias("m"))
            small = (
                edges.join(smins, "a")
                .select(
                    F.explode(
                        F.array(
                            F.struct(F.col("b").alias("x"), F.col("m").alias("y")),
                            F.struct(F.col("a").alias("x"), F.col("m").alias("y")),
                        )
                    ).alias("e")
                )
                .select(F.col("e.x").alias("a"), F.col("e.y").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
            edges, sum_s = _ckpt(small)
            if sum_s == prev_sum and sum_l == prev_sum:
                return (
                    nodes.join(
                        edges.withColumnRenamed("a", "doc_id"), "doc_id", "left"
                    ).select(
                        "doc_id",
                        F.coalesce(F.col("b"), F.col("doc_id")).alias("group_id"),
                    ),
                    i + 1,
                )
            prev_sum = sum_s
        raise AssertionError("reference did not converge")

    cases = {
        "chain64": [(i, i + 1) for i in range(1, 64)],
        "negative_ids": [
            (-5, -9), (-9, 3), (3, 7), (100, -100), (-100, 50),
            (8, 8), (2, 6), (6, 2),
        ],
        "dups_and_reversals": [
            (1, 2), (2, 1), (2, 3), (10, 11), (11, 12), (12, 10), (10, 12),
        ],
    }
    for name, pairs in cases.items():
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        ref, ref_rounds = two_probe_reference(df)
        want = sorted(map(tuple, ref.collect()))
        got = sorted(map(tuple, dd.connected_groups(df).collect()))
        assert got == want, name
        assert dd._LAST_CC_ROUNDS == ref_rounds, (
            f"{name}: fused round count {dd._LAST_CC_ROUNDS} != "
            f"two-probe reference {ref_rounds}"
        )


def test_connected_groups_two_deep_chains_stay_separate(spark):
    """Two disjoint 20-node chains: pointer jumping must not leak labels
    across components — each chain converges to its own min id."""
    chain1 = [(i, i + 1) for i in range(19)]
    chain2 = [(100 + i, 101 + i) for i in range(19)]
    pairs = spark.createDataFrame(chain1 + chain2, "id_a long, id_b long")
    groups = {r.doc_id: r.group_id for r in dd.connected_groups(pairs).collect()}
    assert all(groups[i] == 0 for i in range(20))
    assert all(groups[100 + i] == 100 for i in range(20))


# -- repetition / decontamination -------------------------------------------


def test_repetition_profile_counts_duplicate_grams(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # grams: aba bab aba bab -> 4 grams, 2 distinct
            (2, "x y"),           # < 3 tokens -> no grams
            (3, "p q r s"),       # 2 grams, both distinct
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in tx.repetition_profile(df).collect()}
    assert (rows[1].n_grams, rows[1].n_dup_grams, rows[1].dup_gram_frac) == (4, 2, 0.5)
    assert (rows[2].n_grams, rows[2].dup_gram_frac) == (0, 0.0)
    assert (rows[3].n_grams, rows[3].n_dup_grams) == (2, 0)


def test_top_token_profile_tiebreak_and_fraction(spark):
    df = spark.createDataFrame(
        [(1, "b a b a"), (2, "z z z q")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in tx.top_token_profile(df).collect()}
    # counts tie 2-2 -> alphabetically first token wins
    assert (rows[1].top_token, rows[1].top_cnt, rows[1].top_frac) == ("a", 2, 0.5)
    assert (rows[2].top_token, rows[2].top_cnt, rows[2].top_frac) == ("z", 3, 0.75)


def test_benchmark_overlap_flags_contaminated_doc(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),   # benchmark (id % 2 == 0 pred below)
            (1, "the quick brown fox sleeps"),  # shares 2 of its 3 grams
            (3, "entirely different words here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dd.benchmark_overlap(df, F.col("doc_id") % 2 == 0).collect()}
    assert set(out) == {1, 3}  # benchmark doc itself is excluded
    assert (out[1].n_grams, out[1].n_contaminated) == (3, 2)
    assert out[1].overlap_frac == round(2 / 3, 6)
    assert (out[3].n_contaminated, out[3].overlap_frac) == (0, 0.0)


def test_benchmark_overlap_predicate_over_non_shingle_columns(spark):
    """ADVICE r4: the benchmark predicate may reference ANY input column
    (e.g. a source tag), not just the id — it is evaluated on the full
    rows before shingling, then split by broadcast semi/anti id join."""
    df = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps", "bench"),
            (11, "the quick brown fox sleeps", "crawl"),
            (12, "entirely different words here", "crawl"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: r
        for r in dd.benchmark_overlap(df, F.col("source") == "bench").collect()
    }
    assert set(out) == {11, 12}
    assert (out[11].n_grams, out[11].n_contaminated) == (3, 2)
    assert out[12].n_contaminated == 0


def test_chunk_windows_overlap_and_tail(spark):
    """100 tokens at size=64/stride=48: chunk 0 = tokens 1-64, chunk 1 =
    tokens 49-100 (52 tokens, capped at the end), chunk 2 = tokens
    97-100 (start 97 <= 100 so it exists).  A 3-token doc yields one
    3-token chunk; an empty doc yields none."""
    long_doc = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, long_doc), (2, "a b c"), (3, "   ")], "doc_id long, text string"
    )
    out = tx.chunk_windows(df)
    rows = {(r.doc_id, r.chunk_idx): r.n_chunk_tokens for r in out.collect()}
    assert rows == {(1, 0): 64, (1, 1): 52, (1, 2): 4, (2, 0): 3}


# -- fixed-iteration k-means (operators/clustering.py) ----------------------


def _mk_embeddings(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_separates_obvious_groups(spark):
    """Two tight 2-D blobs, seeds one-per-blob: every point lands with
    its blob and stays there across both iterations."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [0.5, -0.5]),
        (3, [0.2, 0.1]),
        (4, [10.5, 9.5]),
        (5, [9.8, 10.2]),
    ]
    out = cl.kmeans_fixed(_mk_embeddings(spark, rows), k=2, iters=2).collect()
    got = {r.vec_id: r.cluster for r in out}
    assert got == {0: 0, 2: 0, 3: 0, 1: 1, 4: 1, 5: 1}
    # distances are squared L2 to the ITERATION-2 centroid (the blob mean)
    d = {r.vec_id: r.sq_dist for r in out}
    cx, cy = (0.0 + 0.5 + 0.2) / 3, (0.0 - 0.5 + 0.1) / 3
    assert d[0] == pytest.approx(cx * cx + cy * cy, abs=1e-6)


def test_kmeans_distance_tie_goes_to_smaller_cluster(spark):
    from spanner_jdbc_converter_spark.operators import clustering as cl

    rows = [(0, [0.0]), (1, [2.0]), (2, [1.0])]  # point 2 equidistant
    asg = cl.assign_clusters(
        _mk_embeddings(spark, rows), cl.seed_centroids(_mk_embeddings(spark, rows), k=2)
    ).collect()
    got = {r.vec_id: r.cluster for r in asg}
    assert got[2] == 0


def test_kmeans_update_is_per_dimension_mean(spark):
    from spanner_jdbc_converter_spark.operators import clustering as cl

    emb = _mk_embeddings(spark, [(0, [0.0, 4.0]), (1, [2.0, 8.0]), (2, [7.0, 1.0])])
    asg = spark.createDataFrame([(0, 0), (1, 0), (2, 1)], "vec_id long, cluster long")
    cents = {r.cluster: r.cvec for r in cl.update_centroids(emb, asg).collect()}
    assert cents[0] == pytest.approx([1.0, 6.0])
    assert cents[1] == pytest.approx([7.0, 1.0])


def test_kmeans_empty_cluster_drops_out(spark):
    """A seed that captures no points after reassignment disappears; the
    remaining clusters still cover every point."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    # seeds 0 and 1 are both inside the left blob; everything is nearer
    # to seed 0 or seed 1 deterministically, and no point is lost.
    rows = [(0, [0.0]), (1, [0.1]), (2, [0.05]), (3, [0.02])]
    out = cl.kmeans_fixed(_mk_embeddings(spark, rows), k=2, iters=2).collect()
    assert {r.vec_id for r in out} == {0, 1, 2, 3}


# -- portable HyperLogLog (operators/sketches.py) ---------------------------


def test_hll_estimate_within_tolerance(spark):
    """Standard error for m=64 is ~13%; 1000 distinct keys must land
    well inside 3σ, and duplicated rows must not move the estimate."""
    from spanner_jdbc_converter_spark.operators import sketches as sk

    df = spark.range(1000).select(
        F.lit("g").alias("g"), F.col("id").alias("k")
    )
    est = sk.hll_estimate(df, ["g"], F.col("k")).first().approx_distinct
    assert abs(est - 1000) / 1000 < 0.4
    dup = df.union(df).union(df)
    est_dup = sk.hll_estimate(dup, ["g"], F.col("k")).first().approx_distinct
    assert est_dup == est


def test_hll_estimate_partitioning_invariant(spark):
    """The integer-Σ construction makes the estimate independent of
    physical partitioning (the map-side merge is exact)."""
    from spanner_jdbc_converter_spark.operators import sketches as sk

    df = spark.range(500).select(F.lit("g").alias("g"), F.col("id").alias("k"))
    e1 = sk.hll_estimate(df.repartition(1), ["g"], F.col("k")).first().approx_distinct
    e17 = sk.hll_estimate(df.repartition(17), ["g"], F.col("k")).first().approx_distinct
    assert e1 == e17


def test_hll_small_range_uses_linear_counting(spark):
    """A handful of keys must trip the linear-counting correction and
    come out near-exact (raw HLL is badly biased down there)."""
    from spanner_jdbc_converter_spark.operators import sketches as sk

    df = spark.range(5).select(F.lit("g").alias("g"), F.col("id").alias("k"))
    est = sk.hll_estimate(df, ["g"], F.col("k")).first().approx_distinct
    assert 3 <= est <= 8


# -- Z-order layout (operators/layout.py) -----------------------------------


def test_morton_interleave_known_values(spark):
    from spanner_jdbc_converter_spark.operators import layout as lo

    df = spark.createDataFrame(
        [(0, 0), (255, 255), (5, 0), (0, 5), (3, 1)], "a long, b long"
    )
    got = [
        r.z
        for r in df.select(lo.morton_interleave(F.col("a"), F.col("b")).alias("z"))
        .orderBy("a", "b")
        .collect()
    ]
    # (0,0)->0; (0,5)->b bits at odd positions: 0b100010=34; (3,1)->0b111=7;
    # (5,0)->a bits at even positions: 0b10001=17; (255,255)->2^16-1
    assert got == [0, 34, 7, 17, 65535]


def test_zorder_files_tight_on_both_dims(spark, sf_dir, tmp_path):
    """Range-partitioning on the Morton code must keep BOTH bucketed
    columns' per-file ranges well under the full domain; a plain sort on
    one column leaves the other column's range at ~100% in every file."""
    from spanner_jdbc_converter_spark.catalog import load_table
    from spanner_jdbc_converter_spark.operators import layout as lo

    o = load_table(spark, sf_dir, "orders")
    cust_b = (F.col("o_custkey") % 256).cast("long")
    price_b = F.floor(F.col("o_totalprice") / 2000.0).cast("long") % 256
    df = o.select(
        cust_b.alias("cb"), price_b.alias("pb"),
        lo.morton_interleave(cust_b, price_b).alias("z"),
    )

    def mean_spread(frame, n_parts, order_col):
        part = frame.repartitionByRange(n_parts, F.col(order_col)).sortWithinPartitions(
            F.col(order_col)
        )
        spreads = (
            part.select(
                F.spark_partition_id().alias("pid"), "cb", "pb"
            )
            .groupBy("pid")
            .agg(
                (F.max("cb") - F.min("cb")).alias("sc"),
                (F.max("pb") - F.min("pb")).alias("sp"),
            )
            .agg(F.avg("sc").alias("mc"), F.avg("sp").alias("mp"))
            .first()
        )
        return spreads.mc, spreads.mp

    zc, zp = mean_spread(df, 16, "z")
    sc, sp = mean_spread(df, 16, "cb")
    # single-column sort: cb tight but pb spans ~the whole 0..255 domain
    assert sc < 32 and sp > 200
    # z-order: BOTH dims bounded well below the full domain
    assert zc < 96 and zp < 96


def test_containment_catches_quote_that_jaccard_misses(spark):
    """A short doc quoted verbatim inside a much longer one: containment
    of the short side ≈ 1 while Jaccard stays below any useful
    threshold — the operator's reason to exist."""
    from pyspark.sql import Row

    from spanner_jdbc_converter_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=quote), Row(doc_id=2, text=filler + " " + quote)]
    )
    [c] = containment_pairs(df, threshold=0.5).collect()
    assert (c.id_a, c.id_b) == (1, 2)
    assert c.containment_a == 1.0          # every gram of the quote is contained
    assert c.containment_b < 0.2           # the long side is mostly filler
    assert jaccard_pairs(df, threshold=0.2).count() == 0  # jaccard blind to it


def test_wav_decode_known_waveform(spark):
    """Hand-built WAV with a known square wave: decode must recover the
    exact sample count, duration, RMS, and crossing rate."""
    import math

    from pyspark.sql import Row

    from spanner_jdbc_converter_spark.operators.multimodal import (
        WAV_RATE,
        _wav_bytes,
        decode_wav_features,
    )

    # 1 second of +/-1000 square wave alternating every sample
    samples = [1000 if i % 2 == 0 else -1000 for i in range(WAV_RATE)]
    df = spark.createDataFrame([Row(doc_id=1, payload=_wav_bytes(samples))])
    [r] = decode_wav_features(df).collect()
    assert r.n_samples == WAV_RATE
    assert r.duration_ms == 1000
    assert r.rms == 1000.0
    assert r.zcr == round((WAV_RATE - 1) / (WAV_RATE - 1), 6) == 1.0

    # silence has zero energy and no crossings
    df0 = spark.createDataFrame([Row(doc_id=2, payload=_wav_bytes([0] * 100))])
    [r0] = decode_wav_features(df0).collect()
    assert (r0.rms, r0.zcr) == (0.0, 0.0)
    assert math.isfinite(r0.rms)


def test_wav_spectrum_pure_tone_centroid_at_tone_bin(spark):
    """A pure sine at bin-2 frequency (period 8 at the 16-sample frame)
    must put essentially all power in bin 2: centroid ~= 2 and the low
    band dominates.  Silence and sub-frame payloads produce all-zero
    features, never NaN."""
    import math

    from pyspark.sql import Row

    from spanner_jdbc_converter_spark.operators.multimodal import (
        _wav_bytes,
        decode_wav_spectrum,
    )

    tone = [
        int(round(10000 * math.sin(2.0 * math.pi * 2 * i / 16))) for i in range(160)
    ]
    rows = decode_wav_spectrum(
        spark.createDataFrame(
            [
                Row(doc_id=1, payload=_wav_bytes(tone)),
                Row(doc_id=2, payload=_wav_bytes([0] * 100)),
                Row(doc_id=3, payload=_wav_bytes([5, -5] * 6)),  # 12 < 16
            ]
        )
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    t = by_id[1]
    assert t.n_frames == 10
    assert abs(t.centroid - 2.0) < 1e-3
    assert t.e_low > 1000 * (t.e_mid + t.e_high)
    s = by_id[2]
    assert (s.e_low, s.e_mid, s.e_high, s.centroid) == (0.0, 0.0, 0.0, 0.0)
    short = by_id[3]
    assert short.n_frames == 0 and short.centroid == 0.0


def test_pgm_decode_known_image(spark):
    """Hand-built 4x2 gradient image: decode must recover dimensions,
    exact mean, gradient energy, and the downsampled checksum."""
    from pyspark.sql import Row

    from spanner_jdbc_converter_spark.operators.multimodal import (
        _pgm_bytes,
        decode_pgm_features,
    )

    # rows: [0,10,20,30] and [40,50,60,70]
    px = bytes([0, 10, 20, 30, 40, 50, 60, 70])
    df = spark.createDataFrame([Row(doc_id=1, payload=_pgm_bytes(4, 2, px))])
    [r] = decode_pgm_features(df).collect()
    assert (r.width, r.height) == (4, 2)
    assert r.mean_px == 35.0
    assert r.grad_energy == 10 * 3 * 2  # |Δ|=10 across 3 steps x 2 rows
    # thumbnail blocks: (0+10+40+50)//4=25, (20+30+60+70)//4=45
    assert r.thumb_checksum == 25 * 1 * 1 + 45 * 2 * 1


def test_embedding_lsh_pairs_subset_of_exact_with_recall(spark, sf_dir):
    """LSH-pruned threshold pairs must emit a SUBSET of the exact pairs
    (identical cosines on the pairs it keeps — same fold order) with
    recall bounded below: 8 tables × 4 planes on the fixture's
    near-orthogonal vectors collides ≳60% of true θ≈69° pairs."""
    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_near_pairs(e, threshold=0.35).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_near_pairs_lsh(e, threshold=0.35).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(lsh[k] == exact[k] for k in lsh)
    assert len(lsh) >= 0.6 * len(exact)


def test_y4m_round_trip_known_values(spark):
    """Hand-computed check on one tiny clip: encode → container walk →
    per-frame features, validated against a direct numpy recompute."""
    df = spark.createDataFrame([(3,)], "doc_id long")
    out = (
        mm.decode_y4m_features(mm.attach_y4m_payload(df), frame_stride=2)
        .orderBy("frame_index")
        .collect()
    )
    w, h, n, planes = mm._synth_video(3)
    assert [r.frame_index for r in out] == list(range(0, n, 2))
    for r in out:
        px = planes[r.frame_index]
        assert (r.width, r.height, r.n_frames) == (w, h, n)
        assert r.mean_px == round(sum(px) / (w * h), 6)
        grad = sum(
            abs(px[y * w + x + 1] - px[y * w + x])
            for y in range(h)
            for x in range(w - 1)
        )
        assert r.grad_energy == grad


def test_y4m_walker_rejects_malformed(spark):
    """The container walk raises explicit ValueErrors — wrong magic,
    non-grayscale colorspace, truncated frame plane."""
    w, h, _n, planes = mm._synth_video(1)
    good = mm._y4m_bytes(w, h, planes)

    def decode_one(payload):
        df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
        return mm.decode_y4m_features(df).collect()

    assert decode_one(good)
    with pytest.raises(Exception, match="YUV4MPEG2"):
        decode_one(b"JUNK\n" + good)
    with pytest.raises(Exception, match="C400"):
        decode_one(good.replace(b"C400", b"C420"))
    with pytest.raises(Exception, match="truncated"):
        decode_one(good[:-5])


def test_wav_decode_degenerate_frames(spark):
    """0- and 1-sample WAVs must decode to zeroed features, not divide
    by zero (ADVICE r5)."""
    import io
    import struct
    import wave

    def wav_of(samples):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(mm.WAV_RATE)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return bytearray(buf.getvalue())

    df = spark.createDataFrame(
        [(0, wav_of([])), (1, wav_of([1000]))], "doc_id long, payload binary"
    )
    rows = {r.doc_id: r for r in mm.decode_wav_features(df).collect()}
    assert (rows[0].n_samples, rows[0].rms, rows[0].zcr) == (0, 0.0, 0.0)
    assert (rows[1].n_samples, rows[1].rms, rows[1].zcr) == (1, 1000.0, 0.0)


def test_pgm_decode_rejects_malformed(spark):
    """Malformed PGM payloads raise explicit ValueErrors (not bare
    asserts — survives python -O; ADVICE r5)."""
    w, h, px = mm._synth_image(2)
    good = mm._pgm_bytes(w, h, px)

    def decode_one(payload):
        df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
        return mm.decode_pgm_features(df).collect()

    assert decode_one(good)
    with pytest.raises(Exception, match="P5"):
        decode_one(b"P6" + good[2:])
    with pytest.raises(Exception, match="truncated"):
        decode_one(good[:-3])


def test_media_store_fixture_borne_payloads(spark, sf_dir):
    """The media store materializes once, serves BinaryType payload
    columns from disk, and its stored bytes round-trip through the
    same decoders as the in-plan synthesis."""
    import os

    store = mm.media_store(spark, sf_dir)
    assert dict(store.dtypes)["wav_payload"] == "binary"
    assert os.path.isdir(mm.media_store_path(sf_dir))
    # stored payloads decode identically to in-plan synthesis
    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(20)
    via_store = {
        r.doc_id: (r.n_samples, r.rms)
        for r in mm.decode_wav_features(
            mm.payload_view(spark, sf_dir, "wav").join(docs, "doc_id")
        ).collect()
    }
    via_plan = {
        r.doc_id: (r.n_samples, r.rms)
        for r in mm.decode_wav_features(mm.attach_wav_payload(docs)).collect()
    }
    assert via_store == via_plan


def test_media_store_path_keys_on_fixture_content(tmp_path):
    """The store path must change when the fixture's documents.parquet
    changes (regenerated fixture) and differ across same-basename dirs —
    a stale store must MISS, not serve old payload rows (ADVICE r6)."""
    import os
    import time as _time

    a = tmp_path / "x" / "sf0.5"
    b = tmp_path / "y" / "sf0.5"
    for d in (a, b):
        os.makedirs(d)
        (d / "documents.parquet").write_bytes(b"one")
    p_a, p_b = mm.media_store_path(str(a)), mm.media_store_path(str(b))
    assert p_a != p_b  # same basename, different fixture dirs
    (a / "documents.parquet").write_bytes(b"longer-content")
    os.utime(a / "documents.parquet", (_time.time() + 5, _time.time() + 5))
    assert mm.media_store_path(str(a)) != p_a  # regenerated fixture


def test_media_store_prunes_payloads_for_id_scan(spark, sf_dir):
    """A query that never decodes must not read payload bytes: the scan
    schema of a doc_id-only projection excludes every binary column."""
    df = mm.media_store(spark, sf_dir).select("doc_id")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    scan_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_schema and "payload" not in scan_schema[0]


def test_verified_pairs_subset_of_candidates_with_exact_jaccard(spark, sf_dir):
    """Every verified pair is an LSH candidate, and its jaccard equals
    the inverted-index jaccard_pairs value for that pair."""
    from spanner_jdbc_converter_spark.operators import text as tx

    d = load_table(spark, sf_dir, "documents").filter(tx.token_count("text") >= 3)
    cand = {(r.id_a, r.id_b) for r in dd.lsh_candidate_pairs(d).collect()}
    verified = {
        (r.id_a, r.id_b): r.jaccard for r in dd.verified_near_pairs(d, threshold=0.2).collect()
    }
    assert set(verified) <= cand
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.jaccard_pairs(d, block_cols=None, threshold=0.2).collect()
    }
    for k, v in verified.items():
        if k in exact:
            assert v == exact[k]


def test_build_vocab_rank_and_encode(spark):
    """Vocabulary ids are contiguous frequency ranks with alphabetical
    tiebreak; encoding drops OOV tokens and preserves 1-based positions."""
    from spanner_jdbc_converter_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a b zz")], "doc_id long, text string"
    )
    vocab = {r.token: (r.token_id, r.n_occurrences) for r in tx.build_vocab(df, min_count=2).collect()}
    # b:4, a:3 -> ids 1, 2; c and zz below min_count
    assert vocab == {"b": (1, 4), "a": (2, 3)}
    enc = sorted(
        (r.doc_id, r.pos, r.token_id)
        for r in tx.encode_tokens(df, tx.build_vocab(df, min_count=2)).collect()
    )
    assert enc == [
        (1, 1, 1), (1, 2, 1), (1, 3, 1), (1, 4, 2), (1, 5, 2),
        (2, 1, 2), (2, 2, 1),
    ]


def test_build_vocab_property_matches_python_reference(spark):
    """Vocabulary rank/ids against a pure-python reference over random
    corpora (hypothesis): same tokens kept, same contiguous ids."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from spanner_jdbc_converter_spark.operators import text as tx

    word = st.sampled_from(["a", "bb", "ccc", "dd", "e", "ff", "g"])
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(doc, min_size=1, max_size=8))
    def check(docs):
        df = spark.createDataFrame(
            [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
        )
        got = {
            r.token: (r.token_id, r.n_occurrences)
            for r in tx.build_vocab(df, min_count=2).collect()
        }
        counts = Counter(t for d in docs for t in d.lower().split() if t)
        kept = sorted(
            ((t, c) for t, c in counts.items() if c >= 2),
            key=lambda tc: (-tc[1], tc[0]),
        )
        want = {t: (i + 1, c) for i, (t, c) in enumerate(kept)}
        assert got == want

    check()


def test_incremental_near_dedup_semantics(spark):
    """Increment path: exact corpus hit dropped, near corpus hit
    dropped, batch-internal near-dup group keeps min id, unique batch
    doc survives, corpus rows never appear in the output."""
    base = " ".join(f"corpusword{j}" for j in range(30))
    near = base.replace("corpusword5", "changedword5")  # 1-token edit ≈ 0.87 jaccard
    bb = " ".join(f"batchword{j}" for j in range(30))
    corpus = spark.createDataFrame(
        [(1, base, "s"), (2, "completely different corpus text here entirely", "s")],
        "doc_id long, text string, source string",
    )
    batch = spark.createDataFrame(
        [
            (10, base, "s"),   # exact dup of corpus 1
            (11, near, "s"),   # near dup of corpus 1
            (12, "unique brand new content nothing like it at all", "s"),
            (13, bb, "s"),     # batch-internal near-dup group {13, 14}
            (14, bb.replace("batchword7", "editedword7"), "s"),
        ],
        "doc_id long, text string, source string",
    )
    got = sorted(
        r.doc_id
        for r in dd.incremental_near_dedup(corpus, batch, threshold=0.5).collect()
    )
    assert got == [12, 13]


def test_incremental_near_dedup_empty_batch_and_empty_corpus(spark):
    schema = "doc_id long, text string, source string"
    empty = spark.createDataFrame([], schema)
    docs = spark.createDataFrame(
        [(1, "some words in a doc here", "s"), (2, "some words in a doc here", "s")],
        schema,
    )
    assert dd.incremental_near_dedup(docs, empty).count() == 0
    # empty corpus: reduces to plain within-batch dedup (min-id keeper)
    got = sorted(r.doc_id for r in dd.incremental_near_dedup(empty, docs).collect())
    assert got == [1]


def test_incremental_near_dedup_partition_invariant(spark):
    """Survivors are a pure function of the data — repartitioning either
    side must not change the kept set.  The batch mixes every stage:
    exact corpus dups (stage 1), NEAR corpus dups (LSH + verify), a
    batch-internal near-dup group (min-id component keeper), and unique
    docs, so a partition-dependent bug in any stage changes the set."""
    base = [(i, " ".join(f"w{i}_{j:02d}" for j in range(25)), "s") for i in range(30)]
    batch_rows = (
        [(100 + i, base[i][1], "s") for i in range(3)]  # exact dups of 0-2
        + [  # near dups (1-token edit) of corpus docs 3-5
            (110 + i, base[3 + i][1].replace(f"w{3+i}_07", "edited_07"), "s")
            for i in range(3)
        ]
        + [  # batch-internal near-dup pair: 120 keeps (min id), 121 drops
            (120, " ".join(f"b_{j:02d}" for j in range(25)), "s"),
            (121, " ".join(f"b_{j:02d}" for j in range(25)).replace("b_09", "x_09"), "s"),
        ]
        + [(130, " ".join(f"u_{j:02d}" for j in range(25)), "s")]  # unique
    )
    schema = "doc_id long, text string, source string"
    corpus = spark.createDataFrame(base, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    a = sorted(r.doc_id for r in dd.incremental_near_dedup(corpus, batch).collect())
    b = sorted(
        r.doc_id
        for r in dd.incremental_near_dedup(
            corpus.repartition(7), batch.repartition(3)
        ).collect()
    )
    assert a == b  # the invariance property itself
    assert not {100, 101, 102} & set(a)  # exact corpus dups dropped
    assert 121 not in a and 120 in a  # batch pair resolved to the min id
    assert 130 in a  # unique doc survives
    # near-corpus-dup recall is an LSH property (J≈0.77 vs 4x4 bands):
    # deterministic for the portable hashes, so whichever of 110-112 LSH
    # recalls must be dropped identically in both runs (checked by a==b)


def test_incremental_near_dedup_signature_state_loop(spark, tmp_path):
    """The executable increment cache (VERDICT r7 'What's missing #1'):
    two successive increments driven through a parquet signature store
    produce exactly the same survivors as the stateless operator, with
    survivor state appended batch-sized between increments."""
    schema = "doc_id long, text string, source string"
    base = [(i, " ".join(f"c{i}_{j:02d}" for j in range(25)), "s") for i in range(20)]
    corpus = spark.createDataFrame(base, schema)
    batch1 = spark.createDataFrame(
        [
            (100, base[0][1], "s"),  # exact corpus dup
            (101, base[1][1].replace("c1_07", "edit_07"), "s"),  # near corpus dup
            (102, " ".join(f"n1_{j:02d}" for j in range(25)), "s"),  # unique
        ],
        schema,
    )
    batch2 = spark.createDataFrame(
        [
            (200, " ".join(f"n1_{j:02d}" for j in range(25)), "s"),  # exact dup of 102
            (201, " ".join(f"n1_{j:02d}" for j in range(25)).replace("n1_04", "x_04"), "s"),
            (202, " ".join(f"n2_{j:02d}" for j in range(25)), "s"),  # unique
        ],
        schema,
    )

    store = str(tmp_path / "sigstore")
    dd.signature_state(corpus).write.parquet(store)

    state1 = spark.read.parquet(store)
    surv1 = dd.incremental_near_dedup(corpus, batch1, corpus_state=state1)
    dd.signature_state(surv1).write.mode("append").parquet(store)
    corpus2 = corpus.unionByName(surv1)

    state2 = spark.read.parquet(store)
    surv2 = dd.incremental_near_dedup(corpus2, batch2, corpus_state=state2)

    # stateless reference over the identical increments
    ref1 = dd.incremental_near_dedup(corpus, batch1)
    ref2 = dd.incremental_near_dedup(corpus.unionByName(ref1), batch2)
    assert sorted(r.doc_id for r in surv1.collect()) == sorted(
        r.doc_id for r in ref1.collect()
    )
    assert sorted(r.doc_id for r in surv2.collect()) == sorted(
        r.doc_id for r in ref2.collect()
    )
    # the store now carries state for every curated doc exactly once
    ids = [r.doc_id for r in state2.select("doc_id").collect()]
    assert sorted(ids) == sorted(set(ids)) == sorted(r.doc_id for r in corpus2.select("doc_id").collect())


def test_incremental_near_dedup_state_never_rehashes_corpus(spark, tmp_path):
    """'Corpus signatures are computed exactly once' made checkable: the
    signature frame LSH banding consumes (_increment_signatures) has
    ZERO corpus-parquet scans when corpus_state is supplied — the
    corpus is MinHashed once at state-build time and never again.  At
    the operator level, the only remaining corpus scans in the lazy
    plan are the candidate-involved verify fetches (strictly fewer
    than the stateless plan's, which also rehashes for fp + sigs)."""
    schema = "doc_id long, text string, source string"
    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}_{j:02d}" for j in range(25)), "s") for i in range(10)],
        schema,
    )
    corpus_path = str(tmp_path / "corpus")
    store = str(tmp_path / "sigstore")
    corpus.write.parquet(corpus_path)
    corpus_pq = spark.read.parquet(corpus_path)
    dd.signature_state(corpus_pq).write.parquet(store)
    batch = spark.createDataFrame(
        [(100, " ".join(f"b_{j:02d}" for j in range(25)), "s")], schema
    )

    def corpus_scans(df):
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(jmode)
        return sum(
            1
            for line in plan.splitlines()
            if "Location" in line and corpus_path in line
        )

    state = spark.read.parquet(store)
    union = corpus_pq.unionByName(batch)  # shape only; survivors ≈ batch here
    sig_frame = dd._increment_signatures(union, batch, state, "text", "doc_id", dd.MINHASH_K)
    assert corpus_scans(sig_frame) == 0  # the executable cache claim
    assert corpus_scans(
        dd._increment_signatures(union, batch, None, "text", "doc_id", dd.MINHASH_K)
    ) >= 1  # stateless: the signature chain DOES read corpus text

    with_state = dd.incremental_near_dedup(
        corpus_pq, batch, corpus_state=state, materialize=False
    )
    stateless = dd.incremental_near_dedup(corpus_pq, batch, materialize=False)
    assert corpus_scans(with_state) < corpus_scans(stateless)


def test_incremental_near_dedup_id_overlap_fails_fast(spark):
    """ADVICE r7: a batch doc reusing a corpus doc's id would silently
    escape candidate pairing — the materialized path must refuse."""
    schema = "doc_id long, text string, source string"
    corpus = spark.createDataFrame([(1, "corpus doc one text", "s")], schema)
    batch = spark.createDataFrame(
        [(1, "batch doc with a reused id", "s"), (2, "fine", "s")], schema
    )
    with pytest.raises(ValueError, match="disjoint"):
        dd.incremental_near_dedup(corpus, batch)
    # state-path probe uses the store ids, same refusal
    with pytest.raises(ValueError, match="disjoint"):
        dd.incremental_near_dedup(
            corpus, batch, corpus_state=dd.signature_state(corpus)
        )


# ---------------------------------------------------------------------------
# SemDedup (embedding-cluster dedup) + verbatim-span contamination (r10)
# ---------------------------------------------------------------------------


def test_semantic_dedup_prunes_within_cluster_min_id(spark):
    """Identical vectors land in the same cluster; all but the min id
    are pruned with dup_of pointing at the smallest near id; every
    input id appears exactly once."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    def vec(axis, eps=0.0):
        v = [0.0] * 8
        v[axis] = 1.0
        v[(axis + 1) % 8] = eps
        return v

    rows = (
        # seeds 0..3 on distinct axes (k=4 seeds are ids < 4)
        [(i, vec(i)) for i in range(4)]
        # 10 and 11 duplicate seed 0's direction; 12 duplicates seed 1's
        + [(10, vec(0)), (11, vec(0, 1e-3)), (12, vec(1))]
        # 20 is alone in its direction: kept
        + [(20, vec(3))]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cl.semantic_dedup(emb, k=4, iters=2, threshold=0.99).collect()
    by_id = {r.vec_id: r for r in out}
    assert sorted(by_id) == [0, 1, 2, 3, 10, 11, 12, 20]
    assert by_id[0].is_kept and by_id[0].dup_of is None
    assert not by_id[10].is_kept and by_id[10].dup_of == 0
    assert not by_id[11].is_kept and by_id[11].dup_of == 0
    assert not by_id[12].is_kept and by_id[12].dup_of == 1
    assert not by_id[20].is_kept and by_id[20].dup_of == 3


def test_semantic_dedup_blind_spot_is_cross_cluster_only(spark):
    """The SemDedup approximation: a near pair SPLIT across clusters is
    not pruned — document the contract so a threshold/cluster change
    that silently widens pruning fails here."""
    from spanner_jdbc_converter_spark.operators import clustering as cl


    def vec(axis):
        v = [0.0] * 4
        v[axis] = 1.0
        return v

    # k=2 seeds are ids 0 and 1 on orthogonal axes; id 5 matches seed 1's
    # axis exactly, so it clusters with 1 and prunes; id 6 ALSO matches
    # axis 1 — all three co-cluster, so 6 prunes against min id 1.
    rows = [(0, vec(0)), (1, vec(1)), (5, vec(1)), (6, vec(1))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in cl.semantic_dedup(emb, k=2, iters=2, threshold=0.99).collect()}
    assert out[5].dup_of == 1 and out[6].dup_of == 1
    assert out[0].is_kept and out[1].is_kept


def test_verbatim_span_pairs_catches_mid_document_copy(spark):
    """A 32-word span embedded mid-document links the two docs even
    though everything around it differs; whole-doc fingerprints differ."""
    span = " ".join(f"tok{i}" for i in range(32))
    docs = [
        (1, "alpha opening words " + span + " alpha closing words"),
        (2, "totally different beginning " + span + " and a different end"),
        (3, "no shared content here at all just filler " * 8),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = dd.verbatim_span_pairs(d).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    row = out[0]
    # the copied passage contributes exactly ONE fully-shared 32-gram
    # per alignment; both docs' fractions reflect their own span counts
    assert row.shared_spans >= 1
    assert row.n_spans_a > row.shared_spans  # doc 1 has unshared spans too
    assert abs(row.frac_a - row.shared_spans / row.n_spans_a) < 5e-7  # round-6


def test_verbatim_span_pairs_caps_boilerplate_postings(spark):
    """A span present in MORE than max_df docs is boilerplate: its
    posting list is dropped before pair expansion, so no pair forms."""
    boiler = " ".join(f"b{i}" for i in range(32))
    docs = [(i, f"doc {i} unique preamble " + boiler) for i in range(6)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    # cap=5 < 6 docs: every posting list for the boilerplate spans
    # exceeds the cap -> no pairs at all
    assert dd.verbatim_span_pairs(d, max_df=5).count() == 0
    # raising the cap re-admits the pairs
    assert dd.verbatim_span_pairs(d, max_df=6).count() == 15


def test_benchmark_span_hits_flags_embedded_eval_string(spark):
    """A benchmark doc's 32-gram embedded mid-corpus-doc flags that doc
    with n_hits >= 1; clean docs report zero hits; benchmark docs are
    excluded from the report."""
    span = " ".join(f"ev{i}" for i in range(32))
    docs = [
        (0, "the benchmark item reads " + span + " end of item"),  # benchmark (id % 2 == 0... use pred id==0)
        (1, "corpus doc that quotes the benchmark " + span + " inside itself"),
        (3, "clean corpus document with plenty of its own words " * 5),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    from pyspark.sql import functions as F

    out = {r.doc_id: r for r in dd.benchmark_span_hits(d, F.col("doc_id") == 0).collect()}
    assert sorted(out) == [1, 3]  # benchmark doc 0 excluded
    assert out[1].is_contaminated and out[1].n_hits >= 1
    assert not out[3].is_contaminated and out[3].n_hits == 0
    assert out[3].n_spans > 0


def test_fuzzy_winnow_gate_catches_one_token_edit_exact_gate_misses(spark):
    """VERDICT r13 #4 acceptance: a corpus doc quoting a 40-word
    benchmark passage with ONE token changed mid-passage evades the
    exact 32-gram gate (every 32-gram spans the edit) but the winnowing
    fingerprint gate still fires — the clean ≥7-word runs on both sides
    of the edit share fingerprints by the MOSS guarantee.  A genuinely
    clean doc passes both gates."""
    from pyspark.sql import functions as F

    passage = [f"bench{i}" for i in range(40)]
    edited = list(passage)
    edited[20] = "PARAPHRASED"  # positions 9..20 of every 32-gram cover it
    docs = [
        (0, "the eval item is " + " ".join(passage) + " answer follows"),
        (1, "scraped page quoting " + " ".join(edited) + " with commentary"),
        (3, " ".join(f"own{i} words{i}" for i in range(40))),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    pred = F.col("doc_id") == 0

    exact = {r.doc_id: r for r in dd.benchmark_span_hits(d, pred).collect()}
    assert exact[1].n_hits == 0 and not exact[1].is_contaminated  # evasion works
    fps = dd.winnow_fingerprints(d)
    fuzzy = {
        r.doc_id: r for r in dd.benchmark_span_hits(d, pred, spans=fps).collect()
    }
    assert fuzzy[1].is_contaminated and fuzzy[1].n_hits >= 2  # caught
    assert fuzzy[3].n_hits == 0 and not fuzzy[3].is_contaminated


def test_leakage_safe_split_is_group_atomic_and_plain_for_uniques(spark):
    """Near-dup groups land in ONE split (anchored on the min id); docs
    with no near-dup get exactly the plain per-doc hash assignment."""
    from spanner_jdbc_converter_spark.functions.hashing import md5_long
    from spanner_jdbc_converter_spark.operators import selection as sel

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 7, 9, 42)], "doc_id long, text string"
    )
    # near-dup graph: {1,2,3} one component (chain), {7,9} another
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    out = {r.doc_id: r for r in sel.leakage_safe_split(docs, pairs).collect()}
    assert len(out) == 6
    # group-atomic: every member shares the anchor AND the split
    assert out[1].anchor_id == out[2].anchor_id == out[3].anchor_id == 1
    assert out[1].split == out[2].split == out[3].split
    assert out[7].anchor_id == out[9].anchor_id == 7
    assert out[7].split == out[9].split
    # unique doc: anchor = own id, split = the plain per-doc assignment
    assert out[42].anchor_id == 42
    u = (
        spark.range(1)
        .select((md5_long(F.lit("split:42")) / F.lit(sel.U_DENOM)).alias("u"))
        .first()["u"]
    )
    expected = "train" if u < 0.8 else ("val" if u < 0.9 else "test")
    assert out[42].split == expected


# -- property-based: verbatim-span family vs a brute-force reference ---------

_span_docs = st.lists(
    st.lists(st.integers(0, 5), min_size=0, max_size=14),  # token ids per doc
    min_size=0,
    max_size=8,
)


def _py_span_pairs(docs, n, max_df):
    """Brute-force reference: per-doc distinct n-gram span sets, df-capped
    inverted pairing, shared counts + fractions."""
    spans = {
        i: {" ".join(f"w{t}" for t in toks[j : j + n]) for j in range(len(toks) - n + 1)}
        for i, toks in docs.items()
        if len(toks) >= n
    }
    df_count = {}
    for s in spans.values():
        for h in s:
            df_count[h] = df_count.get(h, 0) + 1
    eligible = {h for h, c in df_count.items() if 2 <= c <= max_df}
    out = {}
    ids = sorted(spans)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            shared = len(spans[a] & spans[b] & eligible)
            if shared:
                out[(a, b)] = (shared, len(spans[a]), len(spans[b]))
    return out


@given(docs=_span_docs)
@settings(max_examples=10, deadline=None)
def test_verbatim_span_pairs_property(spark, docs):
    """verbatim_span_pairs == the brute-force reference on arbitrary
    small corpora (ngram=3 so short random docs produce spans), for
    pair membership, shared counts, and span totals."""
    n, max_df = 3, 3
    doc_map = {i: toks for i, toks in enumerate(docs)}
    rows = [(i, " ".join(f"w{t}" for t in toks)) for i, toks in doc_map.items()]
    if not rows:
        return
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.shared_spans, r.n_spans_a, r.n_spans_b)
        for r in dd.verbatim_span_pairs(d, ngram=n, max_df=max_df).collect()
    }
    assert got == _py_span_pairs(doc_map, n, max_df)


@given(docs=_span_docs, bench_toks=st.lists(st.integers(0, 5), min_size=0, max_size=14))
@settings(max_examples=10, deadline=None)
def test_filter_contaminated_property(spark, docs, bench_toks):
    """filter_contaminated == drop exactly the docs sharing a distinct
    n-gram with the benchmark text, keep everything else."""
    n = 3
    bench_spans = {
        " ".join(f"w{t}" for t in bench_toks[j : j + n])
        for j in range(len(bench_toks) - n + 1)
    }
    rows = [(i, " ".join(f"w{t}" for t in toks)) for i, toks in enumerate(docs)]
    if not rows:
        return
    d = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(0, " ".join(f"w{t}" for t in bench_toks))], "doc_id long, text string"
    )
    bset = dd.span_hashes(bench, ngram=n).select("__h").distinct()
    kept = {r.doc_id for r in dd.filter_contaminated(d, bset, ngram=n).collect()}
    expect = {
        i
        for i, toks in enumerate(docs)
        if not (
            {" ".join(f"w{t}" for t in toks[j : j + n]) for j in range(len(toks) - n + 1)}
            & bench_spans
        )
    }
    assert kept == expect


# -- BPE merge learning vs a brute-force reference ---------------------------


def _py_bpe(word_counts, rounds):
    """Brute-force BPE reference: exact pair counts, (count desc, pair asc)
    winner, greedy left-to-right merge — the operator's stated semantics."""
    seqs = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(rounds):
        pc = {}
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + word_counts[w]
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((a, b, a + b, cnt))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges


def test_bpe_merges_classic_corpus(spark):
    """The Sennrich running example: merges chain (es -> est) and the
    frequency-weighted counts are exact."""
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(counts.items())]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in tx.bpe_merges(d, rounds=4).orderBy("rank").collect()
    ]
    assert got == [(a, b, m, c) for a, b, m, c in _py_bpe(counts, 4)]
    # es (9) then es+t -> est (9) must chain within the first rounds
    assert ("e", "s", "es", 9) in got and ("es", "t", "est", 9) in got


def test_bpe_merges_exhausts_to_single_symbols(spark):
    """Once every word is one symbol, later rounds emit NOTHING (no null
    rows) — mirrors the oracle's empty LIMIT 1."""
    d = spark.createDataFrame([(0, "ab ab ab")], "doc_id long, text string")
    got = [
        (r["rank"], r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in tx.bpe_merges(d, rounds=3).collect()
    ]
    assert got == [(1, "a", "b", "ab", 3)]


_bpe_docs = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=6),  # words
    min_size=1,
    max_size=10,
)


@given(words=_bpe_docs)
@settings(max_examples=10, deadline=None)
def test_bpe_merges_property(spark, words):
    """bpe_merges == the brute-force reference on arbitrary small corpora:
    same winners, same tie-breaks, same greedy-fold chaining."""
    counts = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    d = spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    got = [
        (r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in tx.bpe_merges(d, rounds=3, materialize=False).orderBy("rank").collect()
    ]
    assert got == [(a, b, m, c) for a, b, m, c in _py_bpe(counts, 3)]


def test_bpe_segment_applies_learned_merges(spark):
    """The segmentation is the merge table applied in rank order: the
    classic corpus's 'newest' splits using es->est chains, and counts
    carry the word frequency."""
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(counts.items())]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    seg = {r.w: (r.cnt, r.n_pieces, r.segmentation)
           for r in tx.bpe_segment(d, rounds=4).collect()}
    assert set(seg) == set(counts)
    for w, (cnt, n_pieces, s) in seg.items():
        assert cnt == counts[w]
        assert s.replace(" ", "") == w  # pieces reassemble the word
        assert n_pieces == len(s.split(" "))
    # with 4 merges the example learns es, est, ... : 'newest' segments
    # with a trailing 'est' piece
    assert seg["newest"][2].endswith("est")


def test_bpe_segment_survives_merge_exhaustion(spark):
    """After merges exhaust, remaining rounds must carry the vocabulary
    through unchanged (the left-join fold contract) — not empty it."""
    d = spark.createDataFrame([(0, "ab ab ab")], "doc_id long, text string")
    seg = {r.w: r.segmentation for r in tx.bpe_segment(d, rounds=3).collect()}
    assert seg == {"ab": "ab"}


# -- boilerplate span scrubbing ----------------------------------------------


def test_boilerplate_scrub_removes_cross_doc_spans(spark):
    """A 4-gram repeated in >= 3 docs scrubs wherever it sits; covered
    positions extend n tokens from every boilerplate start; clean docs
    pass through verbatim."""
    rows = [
        (0, "a b x1 x2 x3 x4 c"),
        (1, "x1 x2 x3 x4 d e"),
        (2, "f x1 x2 x3 x4"),
        (3, "g h i j k l m"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in tx.boilerplate_scrub(d, ngram=4, min_df=3).collect()}
    assert (out[0].n_removed, out[0].clean_text) == (4, "a b c")
    assert (out[1].n_removed, out[1].clean_text) == (4, "d e")
    assert (out[2].n_removed, out[2].clean_text) == (4, "f")
    assert (out[3].n_removed, out[3].clean_text) == (0, "g h i j k l m")
    assert all(out[i].n_tokens == len(rows[i][1].split()) for i in range(4))


def test_boilerplate_scrub_df_below_threshold_keeps_text(spark):
    """df=2 < min_df=3: nothing is boilerplate, every doc intact —
    including the fully-duplicated pair (whole-doc dedup's job, not
    scrubbing's)."""
    rows = [(0, "p q r s t"), (1, "p q r s t"), (2, "u v w x y")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in tx.boilerplate_scrub(d, ngram=4, min_df=3).collect()}
    assert all(out[i].n_removed == 0 for i in range(3))
    assert out[0].clean_text == "p q r s t"


def test_span_pos_hashes_match_window_reference(spark):
    """The exchange-free array span kernel (r17 optimization) must emit
    the IDENTICAL (id, __pos, __h) row set as the window-lead reference
    it replaced — same hash VALUES, not just equality classes, since
    both feed xxhash64 the same per-position token arguments.  Edge
    cases pinned: doc shorter than ngram (no rows), doc exactly ngram
    (one row), trailing/run whitespace (tokenizer drops empties), mixed
    case, empty text, NULL text."""
    from pyspark.sql import Window

    rows = [
        (0, "a b x1 x2 x3 x4 c"),
        (1, "short doc"),
        (2, "w x y z"),
        (3, "  Mixed   CASE  spacing\there now  "),
        (4, ""),
        (5, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    def reference(df, text_col, id_col, ngram):
        toks = df.select(
            F.col(id_col), F.posexplode(tx.tokens(text_col)).alias("__pos", "__tok")
        )
        w = Window.partitionBy(id_col).orderBy("__pos")
        leads = [F.col("__tok")] + [
            F.lead("__tok", j).over(w) for j in range(1, ngram)
        ]
        return (
            toks.select(
                F.col(id_col),
                F.col("__pos"),
                F.xxhash64(*leads).alias("__h"),
                leads[-1].isNotNull().alias("__full"),
            )
            .filter(F.col("__full"))
            .drop("__full")
        )

    for ngram in (3, 4, 32):
        got = sorted(
            tuple(r) for r in tx._span_pos_hashes(d, "text", "doc_id", ngram).collect()
        )
        want = sorted(
            tuple(r) for r in reference(d, "text", "doc_id", ngram).collect()
        )
        assert got == want, f"ngram={ngram}"
        if ngram == 4:
            assert len(got) > 0  # fixture actually exercises the kernel


def test_overlapped_checkpoints_match_sequential(spark):
    """_stage_checkpoints_overlapped materializes INDEPENDENT frames
    concurrently (r17: the recall report's exact/ADC/residual barriers)
    — contents must match the inputs exactly, lineage must be truncated
    to a checkpoint scan, and the single-frame fast path must hold."""
    from spanner_jdbc_converter_spark.operators.dedup import (
        _stage_checkpoints_overlapped,
    )

    a = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    b = spark.range(0, 50).selectExpr("id", "id % 7 AS w")
    c = spark.range(0, 10).selectExpr("id")
    ca, cb, cc = _stage_checkpoints_overlapped(a, b, c)
    assert sorted(map(tuple, ca.collect())) == sorted(map(tuple, a.collect()))
    assert sorted(map(tuple, cb.collect())) == sorted(map(tuple, b.collect()))
    assert sorted(map(tuple, cc.collect())) == sorted(map(tuple, c.collect()))
    for chk in (ca, cb, cc):
        assert "Scan ExistingRDD" in chk._jdf.queryExecution().executedPlan().toString()
    (only,) = _stage_checkpoints_overlapped(a)
    assert only.count() == 100


def test_overlapped_checkpoints_report_every_failure(spark):
    """When several overlapped frames fail, the raised error names all
    of them, not only the first to finish."""
    from spanner_jdbc_converter_spark.operators.dedup import (
        _stage_checkpoints_overlapped,
    )

    a = spark.range(1).select(F.raise_error(F.lit("overlap-boom-a")))
    b = spark.range(1).select(F.raise_error(F.lit("overlap-boom-b")))
    with pytest.raises(Exception) as info:
        _stage_checkpoints_overlapped(a, b)
    text = str(info.value) + "\n".join(getattr(info.value, "__notes__", []))
    assert "overlap-boom-a" in text and "overlap-boom-b" in text


# -- bigram surprisal + hard negatives ---------------------------------------


def test_bigram_surprisal_matches_hand_model(spark):
    """Add-one bigram LM on a 2-doc corpus, checked against the formula
    computed directly: P(b|a) = (c(ab)+1)/(c(a.)+V)."""
    import math

    d = spark.createDataFrame(
        [(0, "a b a b"), (1, "c c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in tx.bigram_surprisal(d).collect()}
    # corpus: c(ab)=2 c(ba)=1 c(cc)=1; lefts: a->2 b->1 c->1; V=3
    nll = lambda cab, ca: round(-math.log((cab + 1) / (ca + 3)), 6)
    exp0 = round((2 * nll(2, 2) + nll(1, 1)) / 3, 6)
    exp1 = round(nll(1, 1) / 1, 6)
    assert out[0].n_bigrams == 3 and out[1].n_bigrams == 1
    assert out[0].avg_surprisal == pytest.approx(exp0, abs=1e-9)
    assert out[1].avg_surprisal == pytest.approx(exp1, abs=1e-9)


def test_hard_negatives_excludes_same_label(spark):
    """The nearest vector overall shares the query's label and must NOT
    appear; the top negative is the nearest OTHER-labeled one."""
    rows = [
        (0, [1.0, 0.0, 0.0], 7),   # query
        (1, [0.99, 0.14, 0.0], 7),  # same label, nearest overall
        (2, [0.9, 0.43, 0.0], 3),   # other label -> top negative
        (3, [0.0, 1.0, 0.0], 3),
        (50, [0.0, 0.0, 1.0], 1),   # second query (vec_id % 50 == 0)
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = d.filter(F.col("vec_id") % 50 == 0)
    out = sim.hard_negatives(q, d, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    ids0 = [r.match_id for r in sorted(by_q[0], key=lambda r: r.rank)]
    assert 1 not in ids0 and ids0[0] == 2
    assert all(r.match_label != r.query_label for r in out)
    assert all(r.match_id != r.query_id for r in out)


def test_nb_classifier_matches_hand_model(spark):
    """NB log-odds on a 3-doc corpus checked against the formula computed
    directly: log P(w|c) = ln((c+1)/(N_c+V)), prior ln(d_ref)−ln(d_rest),
    each ln rounded at 6 before the DECIMAL sums."""
    d = spark.createDataFrame(
        [(0, "a b", "src0"), (1, "a a", "src1"), (2, "b c", "src1")],
        "doc_id long, text string, source string",
    )
    out = {r.doc_id: r for r in tx.nb_reference_classifier(d).collect()}
    # ref tokens: a,b ; rest tokens: a,a,b,c ; V=3, N_ref=2, N_rest=4
    c_ref = {"a": 1, "b": 1, "c": 0}
    c_rest = {"a": 2, "b": 1, "c": 1}
    lw = lambda w: round(math.log((c_ref[w] + 1) / 5), 6) - round(
        math.log((c_rest[w] + 1) / 7), 6
    )
    prior = round(math.log(1), 6) - round(math.log(2), 6)
    exp = {
        0: round(lw("a") + lw("b") + prior, 6),
        1: round(2 * lw("a") + prior, 6),
        2: round(lw("b") + lw("c") + prior, 6),
    }
    for i in (0, 1, 2):
        assert out[i].n_tokens == 2
        assert out[i].nb_logodds == pytest.approx(exp[i], abs=1e-9)
        assert out[i].pred_ref == (exp[i] > 0)


def test_dsir_keeps_exact_top_fraction_per_source(spark):
    """Per-source kept count is exactly ceil(keep_frac·n) and the kept
    set is the weight-descending (id-ascending ties) prefix — checked on
    skewed source sizes (2 target docs vs 8 raw)."""
    rows = [(i, "t%d u%d" % (i % 3, i % 5), "src0" if i < 2 else "srcA")
            for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tx.dsir_importance(d).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src["src0"]) == 2 and len(by_src["srcA"]) == 8
    for src, k in (("src0", 1), ("srcA", 2)):  # ceil(0.25·n)
        rs = sorted(by_src[src], key=lambda r: (-r.log_weight, r.doc_id))
        assert sum(r.selected for r in rs) == k
        assert all(r.selected for r in rs[:k])
        assert not any(r.selected for r in rs[k:])


def test_ngram_novelty_matches_brute_force(spark):
    """Novelty fractions checked against Python-set 3-gram arithmetic,
    including an exact-dup batch doc (novelty 0)."""
    corpus_rows = [
        (100, "alpha beta gamma delta epsilon"),
        (101, "one two three four five six"),
    ]
    batch_rows = [
        (1, "alpha beta gamma delta epsilon"),     # exact dup -> 0
        (2, "alpha beta gamma new tail words"),    # partial overlap
        (3, "totally fresh unseen token stream"),  # all novel -> 1
        (4, "xx yy"),                              # < 3 tokens -> absent
    ]
    grams = lambda t: {
        " ".join(t.split()[i:i + 3]) for i in range(len(t.split()) - 2)
    }
    seen = set().union(*(grams(t) for _, t in corpus_rows))
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    out = {r.doc_id: r for r in tx.ngram_novelty(corpus, batch).collect()}
    assert sorted(out) == [1, 2, 3]
    for i, t in batch_rows[:3]:
        g = grams(t)
        novel = len(g - seen)
        assert out[i].n_grams == len(g)
        assert out[i].n_novel == novel
        assert out[i].novelty == pytest.approx(novel / len(g), abs=1e-12)


def test_nb_frozen_model_scores_oov_with_exact_constant(spark):
    """A doc made entirely of tokens unseen at training time must score
    exactly n_tokens·lw_oov + prior — the frozen-model OOV contract the
    streaming ingest path relies on."""
    train = spark.createDataFrame(
        [(0, "a b", "src0"), (1, "a a", "src1"), (2, "b c", "src1")],
        "doc_id long, text string, source string",
    )
    weights, meta = tx.nb_model_frames(train)
    m = meta.collect()[0]
    new = spark.createDataFrame(
        [(10, "zz yy xx")], "doc_id long, text string"
    )
    out = tx.nb_score_with_model(new, weights, meta).collect()[0]
    # c_ref/c_rest = 0 for unseen tokens: lw_oov = ln(1/(2+3)) − ln(1/(4+3))
    lw_oov = round(math.log(1 / 5), 6) - round(math.log(1 / 7), 6)
    assert float(m.lw_oov) == pytest.approx(lw_oov, abs=1e-9)
    exp = round(3 * lw_oov + float(m.prior), 6)
    assert out.n_tokens == 3
    assert out.nb_logodds == pytest.approx(exp, abs=1e-9)


def test_nb_model_write_rejects_degenerate_model(spark, tmp_path):
    """Freezing a model whose reference class has zero documents must
    fail fast — a NULL prior would silently filter every later batch."""
    train = spark.createDataFrame(
        [(0, "a b", "crawl"), (1, "b c", "crawl")],
        "doc_id long, text string, source string",
    )
    weights, meta = tx.nb_model_frames(train, reference="src0")
    with pytest.raises(ValueError, match="degenerate NB model"):
        tx.nb_model_write(weights, meta, str(tmp_path / "m"))


def test_mmr_prefers_diverse_over_redundant(spark):
    """Plain top-2 would return the two near-identical vectors; MMR's
    redundancy penalty must swap the near-twin for the diverse
    equally-relevant candidate."""
    rows = [
        (0, [1.0, 0.0, 0.0]),        # query (vec_id % 50 == 0)
        (1, [0.95, 0.312, 0.0]),     # top relevance
        (2, [0.95, 0.313, 0.0]),     # near-twin of 1 (sim ~1)
        (3, [0.95, -0.312, 0.0]),    # same relevance, diverse from 1
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = d.filter(F.col("vec_id") % 50 == 0)
    out = sim.mmr_rerank(q, d, k_candidates=3, k_select=2).collect()
    picks = [r.match_id for r in sorted(out, key=lambda r: r.mmr_rank)]
    assert picks[0] in (1, 2)        # rank 1 is pure relevance
    assert picks[1] == 3             # rank 2 must be the DIVERSE one
    assert all(r.mmr_score <= 0.7 * r.relevance + 1e-12 for r in out)


def test_png_round_trip_all_filter_types():
    """Encode → decode is an exact raster round trip; doc_ids 0..4 shift
    the per-scanline filter cycle so every one of the five predictors
    (None/Sub/Up/Average/Paeth) carries live data on some row."""
    for doc_id in range(5):
        w, h, rows = mm._synth_rgb_image(doc_id)
        dw, dh, bpp, drows = mm._png_decode(mm._png_bytes(w, h, rows, doc_id))
        assert (dw, dh, bpp) == (w, h, 3)
        assert drows == rows


def test_png_features_match_direct_compute(spark):
    """The Spark decode path (attach → mapInPandas decode) agrees with a
    driver-side recompute from the synthesis formula."""
    df = spark.range(6).withColumnRenamed("id", "doc_id")
    got = {
        r.doc_id: r
        for r in mm.decode_png_features(mm.attach_png_payload(df)).collect()
    }
    for d in range(6):
        w, h, rows = mm._synth_rgb_image(d)
        r = got[d]
        assert (r.width, r.height, r.n_channels) == (w, h, 3)
        assert r.mean_px == round(sum(sum(x) for x in rows) / (w * h * 3), 6)
        grad = sum(
            abs(x[k + 3] - x[k]) for x in rows for k in range(w * 3 - 3)
        )
        assert r.grad_energy == grad


def test_png_decode_rejects_malformed():
    """Corrupt streams raise explicit ValueErrors: bad signature,
    CRC-mismatched chunk, truncation, unsupported variants."""
    import struct
    import zlib

    w, h, rows = mm._synth_rgb_image(2)
    good = mm._png_bytes(w, h, rows, 2)
    assert mm._png_decode(good)[0] == w
    with pytest.raises(ValueError, match="signature"):
        mm._png_decode(b"\x89PNX" + good[4:])
    bad = bytearray(good)
    bad[44] ^= 0xFF  # inside the IDAT body
    with pytest.raises(ValueError, match="CRC mismatch"):
        mm._png_decode(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        mm._png_decode(good[:-5])
    ihdr16 = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    stream = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr16)
        + mm._png_chunk(b"IDAT", zlib.compress(b""))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported"):
        mm._png_decode(stream)
    no_end = good[: len(good) - 12]  # IEND chunk stripped
    with pytest.raises(ValueError, match="IEND"):
        mm._png_decode(no_end)


def test_winnow_fingerprints_guarantee_and_short_docs(spark):
    """The winnowing guarantee: docs sharing a run of >= window+ngram-1
    words share a fingerprint.  Short docs (>=1 gram but < window grams)
    anchor one fingerprint; sub-ngram docs emit nothing; every
    fingerprint is one of the doc's own gram minima (subset sanity)."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [
            (1, "one two three four five " + shared),
            (2, shared + " xray yankee zulu omega kappa"),
            (3, "p q r s t"),
            (4, "u v w"),
        ],
        "doc_id long, text string",
    )
    rows = dd.winnow_fingerprints(docs).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], set()).add(r["__h"])
    assert by[1] & by[2], "8 shared words (>= w+k-1=7) must share a fingerprint"
    assert len(by.get(3, set())) == 1  # 2 grams < window -> one anchored min
    assert 4 not in by  # 3 tokens < ngram -> no grams, no fingerprints
    # density: never more fingerprints than grams
    assert len(by[1]) <= 5 + 8 - 3  # n_tokens - ngram + 1


def test_png_decode_grayscale_color_type_0():
    """The decoder's grayscale (color type 0, bpp=1) branch: a hand-built
    4x2 PNG with one None-filtered and one Up-filtered scanline decodes
    to the exact raster."""
    import struct
    import zlib

    rows = [bytes([0, 10, 20, 30]), bytes([40, 50, 60, 70])]
    raw = bytes([0]) + rows[0]  # filter None
    raw += bytes([2]) + bytes((rows[1][i] - rows[0][i]) & 255 for i in range(4))  # Up
    ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 0, 0, 0, 0)
    stream = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(raw))
        + mm._png_chunk(b"IEND", b"")
    )
    w, h, bpp, out = mm._png_decode(stream)
    assert (w, h, bpp) == (4, 2, 1)
    assert out == rows


def test_debounce_keeps_last_survivor_semantics(spark):
    """Three events 20 min apart under a 30-min gap: the 1st and 3rd
    survive — a lag-based filter would drop BOTH followers (each is
    within gap of its predecessor), which is exactly why debounce
    tracks the last SURVIVOR."""
    import datetime as dt

    from spanner_jdbc_converter_spark.operators.sessions import debounce_events

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "click", i, t0 + dt.timedelta(minutes=20 * i)) for i in range(3)
    ] + [(2, "click", 10, t0)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, event_id long, ts timestamp"
    )
    got = {
        (r.user_id, r.event_id): r.kept for r in debounce_events(ev).collect()
    }
    assert got == {(1, 0): True, (1, 1): False, (1, 2): True, (2, 10): True}


def test_debounce_matches_bruteforce_on_adversarial_gaps(spark):
    """Randomized-ish adversarial streams (bursts, exact-gap boundaries,
    duplicate timestamps) against a driver-side brute-force replay of
    the survivor recurrence — boundary semantics (>= gap keeps) pinned
    exactly."""
    import datetime as dt

    from spanner_jdbc_converter_spark.operators.sessions import (
        DEBOUNCE_GAP_US,
        debounce_events,
    )

    t0 = dt.datetime(2024, 1, 1)
    gap_s = DEBOUNCE_GAP_US // 1_000_000
    # deterministic pseudo-random offsets incl. exact-boundary multiples
    offs = sorted((i * 7919) % (4 * gap_s) + (i % 3) * gap_s for i in range(60))
    rows = [
        (i % 4, "t" + str(i % 2), i, t0 + dt.timedelta(seconds=off))
        for i, off in enumerate(offs)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, event_id long, ts timestamp"
    )
    got = {r.event_id: r.kept for r in debounce_events(ev).collect()}

    from collections import defaultdict

    streams = defaultdict(list)
    for uid, et, eid, ts in rows:
        streams[(uid, et)].append((int(ts.timestamp() * 1_000_000), eid))
    want = {}
    for evs in streams.values():
        last = None
        for us, eid in sorted(evs):
            ok = last is None or us - last >= DEBOUNCE_GAP_US
            want[eid] = ok
            if ok:
                last = us
    assert got == want


def test_lsh_operating_report_consistency(spark, near_dup_docs):
    """The operating report's internal contract on a corpus with exact
    twins AND a mid-similarity pair: every band row is present, the band
    rows partition the exact ≥0.5 pair set, n_caught never exceeds
    n_true, an exact-twin pair is ALWAYS caught (identical text ⇒
    identical signature ⇒ every band matches), and the band_lo=0.0 row
    equals the candidate pairs that exact verification would kill."""
    rep = {r.band_lo: r for r in dd.lsh_operating_report(near_dup_docs).collect()}
    assert sorted(rep) == [0.0, 0.5, 0.6, 0.7, 0.8, 0.9]
    exact = dd.jaccard_pairs(near_dup_docs, threshold=0.5)
    true_pairs = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}
    cand = {
        (r.id_a, r.id_b)
        for r in dd.lsh_candidate_pairs(near_dup_docs).collect()
    }
    # band rows partition the true pair set
    assert sum(rep[b].n_true for b in [0.5, 0.6, 0.7, 0.8, 0.9]) == len(true_pairs)
    for b in [0.5, 0.6, 0.7, 0.8, 0.9]:
        assert 0 <= rep[b].n_caught <= rep[b].n_true
        assert rep[b].n_cand == rep[b].n_caught
        if rep[b].n_true:
            assert rep[b].catch_rate == round(rep[b].n_caught / rep[b].n_true, 6)
    # the exact twin (1, 101) has J = 1.0 -> 0.9 band, always caught
    assert true_pairs[(1, 101)] == 1.0
    assert rep[0.9].n_true >= 1 and rep[0.9].n_caught >= 1
    # per-band caught counts reconstruct from the raw frames
    for b in [0.5, 0.6, 0.7, 0.8, 0.9]:
        in_band = {
            p for p, j in true_pairs.items()
            if (j >= 0.9 if b == 0.9 else b <= j < b + 0.1)
        }
        assert rep[b].n_true == len(in_band)
        assert rep[b].n_caught == len(in_band & cand)
    # precision complement: candidates minus the caught true pairs
    assert rep[0.0].n_cand == len(cand - set(true_pairs))
    assert rep[0.0].n_true == 0 and rep[0.0].n_caught == 0


def test_schema_drift_report_statuses_and_psi(spark):
    """Rename -> dropped+added pair, retype across classes, and an
    intact column whose nullity collapsed; rates at 6, the 2-bin PSI
    lights only where the nullity actually moved."""
    from spanner_jdbc_converter_spark.operators import validate as vd

    store = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "id long, name string, v long",
    )
    batch = spark.createDataFrame(
        [(5, None, 1.5), (6, None, 2.5), (7, "g", 3.5), (8, "h", 4.5)],
        "id long, name string, v double",
    ).withColumn("extra", F.lit("x")).drop("id").withColumn("id2", F.lit(9))
    rep = {r.column_name: r for r in vd.schema_drift_report(store, batch).collect()}
    assert rep["id"].status == "dropped" and rep["id"].batch_class == "absent"
    assert rep["id2"].status == "added" and rep["id2"].store_class == "absent"
    assert rep["extra"].status == "added"
    assert rep["v"].status == "retyped"
    assert (rep["v"].store_class, rep["v"].batch_class) == ("integral", "fractional")
    name = rep["name"]
    assert name.status == "ok"
    assert (name.store_null_rate, name.batch_null_rate) == (0.0, 0.5)
    assert name.null_psi > 0.2
    # intact nullity: identical smoothed shares -> psi exactly 0.0
    assert rep["v"].null_psi == 0.0
    # absent sides report 0.0, never NULL
    assert (rep["id"].batch_null_rate, rep["id"].null_psi) == (0.0, 0.0)


def test_schema_drift_report_empty_frames(spark):
    from spanner_jdbc_converter_spark.operators import validate as vd

    sch = "id long, name string"
    empty = spark.createDataFrame([], sch)
    rows = vd.schema_drift_report(empty, spark.createDataFrame([], sch)).collect()
    assert {r.column_name: r.status for r in rows} == {"id": "ok", "name": "ok"}
    assert all(
        (r.store_null_rate, r.batch_null_rate, r.null_psi) == (0.0, 0.0, 0.0)
        for r in rows
    )


def test_residual_ivfpq_beats_nonresidual_on_clustered_corpus(spark):
    """VERDICT r12 #3: the residual refinement's accuracy gain,
    MEASURED where its premise holds.  Residual PQ wins when the coarse
    quantizer captures structure (residual cloud smaller than the raw
    cloud); on a clustered corpus at EQUAL m/ncode/nprobe the residual
    row of ann_recall_report must be at least the non-residual row.
    (On the isotropic unit-vector fixture the premise inverts — the
    residual carries E‖x−c‖² = 2−2·maxcos ≈ 1.7× the raw energy, so
    the corpus entry honestly measures residual BELOW non-residual
    there; this test pins the regime the refinement exists for.)"""
    import numpy as np

    from spanner_jdbc_converter_spark.operators import similarity as sim

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for i in range(200):
        v = centers[i // 50] + 0.08 * rng.randn(64)
        v /= np.linalg.norm(v)
        pts.append((i, [float(x) for x in v.astype(np.float32)]))
    sch = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    corpus = spark.createDataFrame(pts, sch)
    queries = corpus.filter(F.col("vec_id") % 20 == 0)
    rows = {
        r.method: r.recall
        for r in sim.ann_recall_report(
            queries, corpus, k=10, materialize=False
        ).collect()
    }
    assert rows["ivfpq_residual"] >= rows["ivfpq"], rows
    assert rows["ivfpq_residual"] > 0.0
    # VERDICT r15 #4: the exact refine stage can only ADD recall over
    # plain IVF+PQ — both draw candidates from the identical ADC scan,
    # refine re-ranks the top-REFINE_N of them exactly; same dominance
    # for the residual pair
    assert rows["ivfpq_refine"] >= rows["ivfpq"], rows
    assert rows["ivfpq_residual_refine"] >= rows["ivfpq_residual"], rows


def test_ivfpq_refine_subset_of_adc_candidates_and_exact_scores(spark, sf_dir):
    """Refine's output pairs are drawn from the ADC top-REFINE_N
    candidate pool, and each survivor's cosine equals the exact
    brute-force cosine for that pair — refine changes the RANKING
    (exact within the pool), never the score function."""
    from spanner_jdbc_converter_spark.functions.vector import norm as vnorm
    from spanner_jdbc_converter_spark.operators import similarity as sim

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(vnorm(F.col("embedding")) > 0)
    )
    queries = e.filter(F.col("vec_id") % 50 == 0)
    pool = {
        (r.query_id, r.match_id)
        for r in sim.ivfpq_topk(queries, e, k=sim.REFINE_N).collect()
    }
    exact = {
        (r.query_id, r.match_id): r.cosine
        for r in sim.cosine_topk(queries, e, k=10_000).collect()
    }
    refined = sim.ivfpq_refine_topk(queries, e, k=5).collect()
    assert refined
    for r in refined:
        assert (r.query_id, r.match_id) in pool
        assert r.cosine == exact[(r.query_id, r.match_id)]


def test_pgm_dhash_matches_direct_compute(spark):
    """The stored-payload dHash must equal the hash computed directly
    from the synthesis formula — proving the PGM encode → parse →
    thumbnail → grid → hash chain is lossless."""
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    ids = spark.range(40).select(F.col("id").alias("doc_id"))
    got = {
        r.doc_id: (r.width, r.height, r.dhash)
        for r in mm.decode_pgm_dhash(mm.attach_pgm_payload(ids)).collect()
    }
    for d in range(40):
        w, h, px = mm._synth_image(d)
        assert got[d] == (w, h, mm._dhash56(w, h, px))
        assert 0 <= got[d][2] < (1 << mm.DHASH_BITS)


def test_audio_chromaprint_near_dup_and_degenerates(spark):
    """Audio fingerprinting semantics: (a) a clip with fewer than 8 DFT
    frames (128 samples) emits no windows, an empty frame emits nothing;
    (b) a one-sample-edited copy of a clip still shares hamming-0
    fingerprint windows with the original (the edit flips one frame's
    bits; windows avoiding that frame are identical) while a spectrally
    unrelated clip pairs with neither; (c) the per-window bit layout
    matches a direct Python replay of the sign-of-adjacent-band-delta
    definition."""
    from spanner_jdbc_converter_spark.operators import dedup as dd
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    base = mm._synth_dup_samples(0)  # family 0, clean variant
    edited = mm._synth_dup_samples(1)  # same family, one sample bumped
    other = mm._synth_dup_samples(8 * 7)  # family 7, clean
    short = base[:100]  # 6 frames < CHROMA_FRAMES
    payloads = [
        (0, mm._wav_bytes(base)),
        (1, mm._wav_bytes(edited)),
        (56, mm._wav_bytes(other)),
        (99, mm._wav_bytes(short)),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    fps = mm.decode_wav_chromaprint(df)
    rows = fps.collect()
    by_doc: dict[int, dict[int, int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.win_id] = r.afp
    assert 99 not in by_doc  # too short to fingerprint
    assert set(by_doc) == {0, 1, 56}
    n_frames = len(base) // mm.SPECTRUM_FRAME
    assert set(by_doc[0]) == set(range(n_frames - mm.CHROMA_FRAMES + 1))
    # (b) near-dup shares hamming-0 windows away from the edited frame 1
    same = [w for w in by_doc[0] if by_doc[0][w] == by_doc[1][w]]
    assert same, "edited copy must share clean windows"
    # windows that differ must all cover the edited frame (frame 1 ⇒ w ≤ 1)
    assert all(w <= 1 for w in set(by_doc[0]) - set(same))
    pairs = dd.hamming_band_pairs(
        fps.select(
            (F.shiftleft(F.col("doc_id"), 20) + F.col("win_id")).alias("wid"),
            "afp",
        ),
        "afp",
        "wid",
        max_hamming=2,
        bands=4,
        bits=mm.CHROMA_BITS,
    )
    doc_pairs = {
        (r.id_a >> 20, r.id_b >> 20) for r in pairs.collect() if (r.id_a >> 20) != (r.id_b >> 20)
    }
    assert (0, 1) in doc_pairs
    assert not any(56 in p for p in doc_pairs), "unrelated clip must not pair"
    # (c) direct replay of the bit definition on the base clip, window 0
    import numpy as np

    x = np.array(base[: n_frames * 16], dtype=np.int64).reshape(n_frames, 16)
    cos_m = np.array(
        [[mm.SPECTRUM_COS[(k * i) % 16] for k in range(1, 9)] for i in range(16)],
        dtype=np.int64,
    )
    sin_m = np.array(
        [[mm.SPECTRUM_SIN[(k * i) % 16] for k in range(1, 9)] for i in range(16)],
        dtype=np.int64,
    )
    re, im = x @ cos_m, x @ sin_m
    fp = 0
    for off in range(8):
        p = [int(re[off, k]) ** 2 + int(im[off, k]) ** 2 for k in range(8)]
        for k in range(7):
            if p[k] > p[k + 1]:
                fp |= 1 << (7 * off + k)
    assert by_doc[0][0] == fp


def test_video_frame_dhash_finds_shifted_clip(spark):
    """Video near-dup semantics: a clip that is a time-shifted window of
    another clip's timeline shares the overlapping frames' dHashes
    exactly, so the containment pairing surfaces the pair with the
    right shared count; an unrelated clip pairs with neither; a clip
    too short for even one frame emits no fingerprints."""
    from spanner_jdbc_converter_spark.operators import dedup as dd
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    w0, h0, planes0 = mm._synth_dup_video(0)  # family 0, shift 0
    w2, h2, planes2 = mm._synth_dup_video(2)  # family 0, shift 2
    assert (w0, h0) == (w2, h2)
    wx, hx, planesx = mm._synth_dup_video(60)  # family 10, unrelated
    payloads = [
        (0, mm._y4m_bytes(w0, h0, planes0)),
        (2, mm._y4m_bytes(w2, h2, planes2)),
        (60, mm._y4m_bytes(wx, hx, planesx)),
        (99, mm._y4m_bytes(w0, h0, [])),  # zero-frame clip
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    fh = mm.decode_y4m_frame_dhash(df)
    rows = fh.collect()
    assert not any(r.doc_id == 99 for r in rows)
    by_doc: dict[int, dict[int, int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.frame_index] = r.fdhash
    # shift 2: clip 2's frame j shows base frame j+2 = clip 0's frame j+2
    for j in range(mm.VIDDUP_FRAMES - 2):
        assert by_doc[2][j] == by_doc[0][j + 2]
    spans = fh.select("doc_id", F.col("fdhash").alias("__h")).dropDuplicates(
        ["doc_id", "__h"]
    )
    docs = spark.createDataFrame(
        [(i, "x") for i in (0, 2, 60, 99)], "doc_id long, text string"
    )
    pairs = {
        (r.id_a, r.id_b): r for r in dd.verbatim_span_pairs(docs, spans=spans).collect()
    }
    assert (0, 2) in pairs
    assert pairs[(0, 2)].shared_spans == mm.VIDDUP_FRAMES - 2
    assert not any(60 in p for p in pairs), "unrelated clip must not pair"


def test_hamming_band_pairs_complete_vs_bruteforce(spark):
    """Pigeonhole completeness, verified: the banded bucket join must
    surface EXACTLY the brute-force Hamming-≤3 pair set (4 bands >
    max_hamming 3 guarantees an identical band on every qualifying
    pair)."""
    from itertools import combinations

    from spanner_jdbc_converter_spark.operators import dedup as dd
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    hashes = {d: mm._dhash56(*mm._synth_image(d)) for d in range(120)}
    expect = {
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for a, b in combinations(range(120), 2)
        if bin(hashes[a] ^ hashes[b]).count("1") <= 3
    }
    assert expect, "fixture must produce near-dup pairs"
    sigs = spark.createDataFrame(
        [(d, h) for d, h in hashes.items()], "doc_id long, dhash long"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dd.hamming_band_pairs(
            sigs, "dhash", "doc_id", max_hamming=3, bands=4, bits=mm.DHASH_BITS
        ).collect()
    }
    assert got == expect


def test_lsh_banding_frontier_math_and_recommendation(spark):
    """The frontier's composition on a hand-built report: expected
    caught = Σ n_true·P(mid), FP mass rescales by P(fp_j)/P(fp_j; 4,4),
    F1 computed on the rounded pair, and the recommendation is the max
    F1 with ties to fewer bands."""
    from spanner_jdbc_converter_spark.operators import dedup as dd

    rep = spark.createDataFrame(
        [
            (0.0, 0, 0, 0.0, 500),   # measured 4x4 false-positive mass
            (0.5, 100, 40, 0.4, 40),
            (0.6, 80, 50, 0.625, 50),
            (0.7, 60, 50, 0.833333, 50),
            (0.8, 40, 39, 0.975, 39),
            (0.9, 20, 20, 1.0, 20),
        ],
        "band_lo double, n_true long, n_caught long, catch_rate double, n_cand long",
    )
    rows = {r.bands: r for r in dd.lsh_banding_frontier(rep).collect()}
    assert set(rows) == {1, 2, 4, 8, 16}
    base_fp = dd.p_catch(dd.FRONTIER_FP_J, 4, 4)
    for b, r in [(1, 16), (2, 8), (4, 4), (8, 2), (16, 1)]:
        exp_caught = 0.0
        total = 0
        for lo, nt in [(0.5, 100), (0.6, 80), (0.7, 60), (0.8, 40), (0.9, 20)]:
            exp_caught = exp_caught + nt * dd.p_catch(lo + 0.05, b, r)
            total += nt
        exp_fp = 500.0 * (dd.p_catch(dd.FRONTIER_FP_J, b, r) / base_fp)
        got = rows[b]
        assert got.rows == r
        assert got.exp_caught == round(exp_caught, 6)
        assert got.exp_fp == round(exp_fp, 6)
        assert got.exp_recall == round(exp_caught / total, 6)
        assert got.exp_precision == round(exp_caught / (exp_caught + exp_fp), 6)
    # exactly one recommendation, and it is a max-F1 config with the
    # smallest bands among the maxima
    recs = [b for b, r in rows.items() if r.recommended]
    best = max(r.exp_f1 for r in rows.values())
    assert len(recs) == 1
    assert rows[recs[0]].exp_f1 == best
    assert recs[0] == min(b for b, r in rows.items() if r.exp_f1 == best)
    # more bands at fixed k must never LOWER expected recall
    rc = [rows[b].exp_recall for b in (1, 2, 4, 8, 16)]
    assert rc == sorted(rc)


def test_unigram_lm_learn_segmentations_and_model(spark):
    """The unigram-LM hard-EM loop on a hand corpus: every word's
    segmentation concatenates back to the word (lossless apply), piece
    usage equals the weighted count of its appearances in the
    segmentations, and ln_prob is round(ln(n_used/total), 6)."""
    import math

    from spanner_jdbc_converter_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(i, "the cat catalog the the cat dog", "s") for i in range(3)],
        "doc_id long, text string, source string",
    )
    pieces, seg = tx.unigram_lm_learn(docs, seed_keep=8, prunes=(6, 4))
    rows = seg.collect()
    assert {r.w for r in rows} == {"the", "cat", "catalog", "dog"}
    for r in rows:
        assert "".join(r.segmentation.split(" ")) == r.w
        assert r.n_pieces == len(r.segmentation.split(" "))
    usage = {}
    for r in rows:
        for p in r.segmentation.split(" "):
            usage[p] = usage.get(p, 0) + r.cnt
    total = sum(usage.values())
    got = {r.piece: (r.n_used, r.ln_prob) for r in pieces.collect()}
    assert {p: u for p, (u, _) in got.items()} == usage
    for p, (u, lp) in got.items():
        assert lp == round(math.log(u / total), 6)


def test_greedy_segment_longest_match_and_boundaries(spark):
    """The greedy decoder takes the LONGEST vocab piece at each
    position, and a boundary try never matches a shorter piece (the
    substr-guard rule the oracle's joins replay)."""
    from spanner_jdbc_converter_spark.operators import text as tx

    vocab = {"ab", "abc", "a", "b", "c", "bc"}
    df = spark.createDataFrame([("abcab",), ("cab",)], "w string")
    got = {
        r.w: list(r.p)
        for r in df.select(
            "w", tx._greedy_segment_udf(vocab, 3)(F.col("w")).alias("p")
        ).collect()
    }
    assert got["abcab"] == ["abc", "ab"]
    assert got["cab"] == ["c", "ab"]


def test_connected_groups_deep_chain_flat_rounds_and_guard(spark):
    """Round-13/14 regression: (a) a deep chain (400 nodes, monotone
    ids — linear-in-diameter for the old min-label propagation)
    converges within the default budget and labels every node with the
    chain min; (b) star contraction's round count is O(log n),
    id-layout-INDEPENDENT — ≤ 2·log₂(n) rounds where propagation
    needed ~diameter; (c) an insufficient budget RAISES instead of
    returning partially-merged groups; (d) per-round cost stays flat —
    the checkpoint-preserved sizeInBytes estimate must not compound
    through the per-round joins (unreset, round 15 multiplied
    million-digit BigIntegers and took 60+ s on constant data)."""
    import math
    import time

    from spanner_jdbc_converter_spark.operators import dedup as dd

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "id_a long, id_b long"
    )
    t0 = time.time()
    rows = dd.connected_groups(chain).collect()
    wall = time.time() - t0
    assert {r.doc_id for r in rows} == set(range(401))
    assert all(r.group_id == 0 for r in rows)
    assert dd._LAST_CC_ROUNDS <= 2 * math.log2(401), (
        f"{dd._LAST_CC_ROUNDS} rounds on a 401-node chain — star "
        "contraction should close it in ~log2(n)"
    )
    # log-bounded rounds at flat cost finish comfortably; the
    # unreset-stats blowup took minutes by round 16 alone
    assert wall < 90, f"deep chain took {wall:.0f}s — stats compounding is back"

    with __import__("pytest").raises(RuntimeError, match="did not converge"):
        dd.connected_groups(chain, max_iters=3).collect()


def test_hamming_matches_cross_frame(spark):
    """The batch-vs-store probe: matches only cross-frame pairs at
    Hamming <= k, complete vs brute force, never pairing store rows
    with each other."""
    from itertools import product

    from spanner_jdbc_converter_spark.operators import dedup as dd
    from spanner_jdbc_converter_spark.operators import multimodal as mm

    left = {d: mm._dhash56(*mm._synth_image(d)) for d in range(0, 40)}
    right = {d: mm._dhash56(*mm._synth_image(d)) for d in range(2560, 2640)}
    expect = {
        (a, b, bin(left[a] ^ right[b]).count("1"))
        for a, b in product(left, right)
        if bin(left[a] ^ right[b]).count("1") <= 3
    }
    assert expect  # ids congruent mod 2560 render identical images
    lf = spark.createDataFrame(list(left.items()), "doc_id long, dhash long")
    rf = spark.createDataFrame(list(right.items()), "doc_id long, dhash long")
    got = {
        (r.id_left, r.id_right, r.hamming)
        for r in dd.hamming_matches(lf, rf, "dhash", bits=mm.DHASH_BITS).collect()
    }
    assert got == expect


def test_png_adam7_reconverges_with_sequential():
    """The Adam7-interlaced encode of the SAME raster decodes to the
    identical (w, h, bpp, rows) as the sequential stream — the
    progressive-JPEG reconvergence discipline applied to PNG (r17).
    Odd/tiny dims exercise empty and partial passes."""
    for doc_id in range(8):
        w, h, rows = mm._synth_rgb_image(doc_id)
        seq = mm._png_decode(mm._png_bytes(w, h, rows, doc_id))
        il = mm._png_decode(mm._png_adam7_bytes(w, h, rows, doc_id))
        assert seq == il == (w, h, 3, rows)
    for w, h in [(1, 1), (2, 1), (1, 2), (3, 3), (5, 7), (8, 8), (9, 10), (7, 1), (1, 9)]:
        rows = [
            bytes((x * 13 + y * 31 + c * 7) % 256 for x in range(w) for c in range(3))
            for y in range(h)
        ]
        assert mm._png_decode(mm._png_adam7_bytes(w, h, rows, 5)) == (w, h, 3, rows)


def test_png_palette_trns_round_trip():
    """Color-type-3 decode: indices map through PLTE, tRNS alphas land
    in channel 3 (opaque 255 past the tRNS length), output is RGBA."""
    for doc_id in range(8):
        w, h, idx_rows, palette, alpha = mm._synth_pal_image(doc_id)
        dw, dh, bpp, rows = mm._png_decode(mm._png_pal_bytes(doc_id))
        assert (dw, dh, bpp) == (w, h, 4)
        for y in range(h):
            for x in range(w):
                idx = idx_rows[y][x]
                want = palette[idx * 3 : idx * 3 + 3] + bytes(
                    [alpha[idx] if idx < len(alpha) else 255]
                )
                assert rows[y][x * 4 : (x + 1) * 4] == want


def test_png_decode_rejects_unsupported_color_and_palette_defects():
    """r17 rejection rows: gray+alpha (4) and RGBA (6) color types stay
    rejections by name; palette streams missing PLTE, with tRNS longer
    than the palette, or with out-of-range indices reject; interlaced
    raster length mismatches reject."""
    import struct
    import zlib

    def stream(color, chunks, w=4, h=2, interlace=0):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, interlace)
        out = mm._PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
        for ctype, body in chunks:
            out += mm._png_chunk(ctype, body)
        return out + mm._png_chunk(b"IEND", b"")

    raw = zlib.compress(bytes([0, 1, 2, 3, 0]) + bytes([0, 0, 1, 2, 3]))
    for color in (4, 6):
        with pytest.raises(ValueError, match="unsupported"):
            mm._png_decode(stream(color, [(b"IDAT", raw)]))
    # palette stream without PLTE
    with pytest.raises(ValueError, match="missing PLTE"):
        mm._png_decode(stream(3, [(b"IDAT", raw)]))
    # tRNS longer than the palette
    plte2 = bytes(6)
    with pytest.raises(ValueError, match="tRNS longer"):
        mm._png_decode(
            stream(3, [(b"PLTE", plte2), (b"tRNS", bytes(3)), (b"IDAT", raw)])
        )
    # index 3 beyond a 2-entry palette
    with pytest.raises(ValueError, match="palette index out of range"):
        mm._png_decode(stream(3, [(b"PLTE", plte2), (b"IDAT", raw)]))
    # duplicate PLTE
    with pytest.raises(ValueError, match="duplicate PNG PLTE"):
        mm._png_decode(
            stream(3, [(b"PLTE", plte2), (b"PLTE", plte2), (b"IDAT", raw)])
        )
    # malformed PLTE length
    with pytest.raises(ValueError, match="malformed PNG PLTE"):
        mm._png_decode(stream(3, [(b"PLTE", bytes(4)), (b"IDAT", raw)]))
    # interlaced stream whose inflated raster is the SEQUENTIAL length
    w, h, rows = mm._synth_rgb_image(3)
    seq = mm._png_bytes(w, h, rows, 3)
    body_at = seq.index(b"IHDR") + 4
    ihdr = bytearray(seq[body_at : body_at + 13])
    ihdr[12] = 1  # claim Adam7
    broken = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", bytes(ihdr))
        + seq[len(mm._PNG_SIG) + 25 :]
    )
    with pytest.raises(ValueError, match="raster length mismatch"):
        mm._png_decode(broken)
    # unknown interlace method
    with pytest.raises(ValueError, match="unsupported"):
        mm._png_decode(stream(2, [(b"IDAT", raw)], interlace=2))


def test_opq_rotation_is_orthogonal_and_preserves_cosine(spark):
    """The two-Householder OPQ-lite rotation is orthogonal: rotated
    pairwise dots equal the originals to fp tolerance, and with a
    lossless codebook (ncode >= |corpus|, iters=1) opq_topk equals
    pq_topk exactly — rotation changes ONLY the quantization error."""
    import math
    import random

    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(6)
    ]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rot = sim.opq_rotation(e, m=2, dim=8)
    assert set(rot) == {"u1", "u1sq", "u2", "u2sq"}

    def apply(rot, x):
        for u, usq in ((rot["u1"], rot["u1sq"]), (rot["u2"], rot["u2sq"])):
            c = 2.0 * sum(ud * xd for ud, xd in zip(u, x)) / usq
            x = [xd - c * ud for xd, ud in zip(x, u)]
        return x

    f32 = {i: [float(str(v)) for v in vs] for i, vs in vecs}
    for i, vi in vecs:
        for j, vj in vecs:
            a = apply(rot, [float(x) for x in vi])
            b = apply(rot, [float(x) for x in vj])
            d0 = sum(x * y for x, y in zip(vi, vj))
            d1 = sum(x * y for x, y in zip(a, b))
            assert math.isclose(d0, d1, rel_tol=1e-9, abs_tol=1e-9)
    # lossless-codebook equivalence: exact cosine ranking is invariant
    plain = {
        (r.query_id, r.rank): (r.match_id, r.score)
        for r in sim.pq_topk(e, e, k=3, m=2, ncode=6, iters=1, dim=8).collect()
    }
    rotated = {
        (r.query_id, r.rank): (r.match_id, r.score)
        for r in sim.opq_topk(
            e, e, k=3, m=2, ncode=6, iters=1, dim=8, rot=rot
        ).collect()
    }
    assert set(plain) == set(rotated)
    for key, (mid, score) in plain.items():
        rmid, rscore = rotated[key]
        assert rmid == mid
        assert abs(rscore - score) <= 2e-6  # round-6 of fp-equal cosines


def test_opq_rotation_aligns_pc1_to_leading_dim(spark):
    """Data dominated by one direction: after the rotation, that
    direction's variance concentrates in dimension 0 (the Householder
    maps pc1 to ±e0)."""
    import random

    rng = random.Random(3)
    base = [1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0]
    vecs = []
    for i in range(24):
        t = rng.uniform(-3, 3)
        vecs.append(
            (i, [t * b + rng.uniform(-0.05, 0.05) for b in base])
        )
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rot = sim.opq_rotation(e, m=2, dim=8)

    def apply(rot, x):
        for u, usq in ((rot["u1"], rot["u1sq"]), (rot["u2"], rot["u2sq"])):
            c = 2.0 * sum(ud * xd for ud, xd in zip(u, x)) / usq
            x = [xd - c * ud for xd, ud in zip(x, u)]
        return x

    rot_vecs = [apply(rot, [float(x) for x in v]) for _, v in vecs]
    n = len(rot_vecs)
    mean = [sum(v[d] for v in rot_vecs) / n for d in range(8)]
    var = [
        sum((v[d] - mean[d]) ** 2 for v in rot_vecs) / n for d in range(8)
    ]
    assert var[0] == max(var)
    assert var[0] > 0.9 * sum(var)  # the line's variance lands in dim 0


def test_gif_lzw_round_trip_across_size_boundaries():
    """The GIFLIB widen-rule pair survives every code-size boundary
    (9→10→11→12), the 4096 dictionary reset, and tail codes that
    assign no entry — the off-by-one graveyard of LZW
    implementations."""
    import random

    rnd = random.Random(7)
    lengths = [1, 2, 253, 254, 255, 256, 511, 512, 513, 1023, 1024,
               4095, 4096, 4097, 8192, 20000]
    for L in lengths:
        streams = [
            bytes(rnd.randrange(256) for _ in range(L)),  # dict grows fastest
            bytes((i // 7) % 3 for i in range(L)),        # long matches
            bytes(i % 2 for i in range(L)),               # KwKwK-heavy
        ]
        for s in streams:
            assert mm._gif_lzw_decode(mm._gif_lzw_encode(s), L) == s


def test_gif_round_trip_and_interlace_reconverge():
    """Every doc decodes back to the formula raster through the real
    GIF87a container; the odd (interlaced) and even (sequential) paths
    produce identical structure for the same raster — the
    reconvergence discipline of the Adam7/progressive rows."""
    for doc_id in range(12):
        w, h, idx_rows, pal = mm._synth_gif_image(doc_id)
        dw, dh, bpp, rgb = mm._gif_decode(mm._gif_bytes(doc_id))
        assert (dw, dh, bpp) == (w, h, 3)
        for y in range(h):
            for x in range(w):
                i = idx_rows[y][x]
                assert rgb[y][3 * x : 3 * x + 3] == pal[3 * i : 3 * i + 3]


def test_gif_decode_rejects_malformed():
    """Rejection contract: every stream this decoder cannot faithfully
    decode raises ValueError by name — never a wrong raster."""
    good = mm._gif_bytes(2)  # doc 2: sequential

    with pytest.raises(ValueError, match="not a GIF"):
        mm._gif_decode(b"GIF90a" + good[6:])
    with pytest.raises(ValueError, match="not a GIF"):
        mm._gif_decode(good[:10])
    # clear the global-color-table flag
    b = bytearray(good)
    b[10] &= 0x7F
    with pytest.raises(ValueError, match="global color table"):
        mm._gif_decode(bytes(b))
    # truncate inside the image data
    with pytest.raises(ValueError, match="truncated"):
        mm._gif_decode(good[:-20])
    # second image descriptor (fixed layout: 6 header + 7 LSD + 768 GCT
    # — 0x2C also occurs inside palette bytes, so no index() search)
    desc_at = 6 + 7 + 768
    assert good[desc_at] == 0x2C
    with pytest.raises(ValueError, match="multi-image"):
        mm._gif_decode(good[:-1] + good[desc_at:])
    # local color table flag
    b = bytearray(good)
    b[desc_at + 9] |= 0x80
    with pytest.raises(ValueError, match="local color table"):
        mm._gif_decode(bytes(b))
    # sub-rectangle placement
    b = bytearray(good)
    b[desc_at + 1] = 1  # left = 1
    with pytest.raises(ValueError, match="sub-rectangle"):
        mm._gif_decode(bytes(b))
    # non-8-bit minimum code size
    b = bytearray(good)
    b[desc_at + 10] = 7
    with pytest.raises(ValueError, match="code size"):
        mm._gif_decode(bytes(b))
    # corrupt the LZW stream: an out-of-range code early in the data
    b = bytearray(good)
    b[desc_at + 12 : desc_at + 16] = b"\xff\xff\xff\xff"
    with pytest.raises(ValueError, match="LZW|truncated|raster"):
        mm._gif_decode(bytes(b))
    # 89a extensions are SKIPPED, not rejected (real crawls are 89a)
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control, empty
    with_ext = good[:desc_at] + ext + good[desc_at:]
    assert mm._gif_decode(with_ext) == mm._gif_decode(good)


def test_bmp_round_trip_both_compressions():
    """Even docs (BI_RGB, padded bottom-up rows) and odd docs (BI_RLE8)
    decode back to the formula raster; the RLE raster formula forces
    both encoded modes (even rows run-mode, odd rows absolute-mode)."""
    for doc_id in range(12):
        w, h, idx_rows, pal = mm._synth_bmp_image(doc_id)
        dw, dh, bpp, rgb = mm._bmp_decode(mm._bmp_bytes(doc_id))
        assert (dw, dh, bpp) == (w, h, 3)
        for y in range(h):
            for x in range(w):
                i = idx_rows[y][x]
                want = bytes([pal[4 * i + 2], pal[4 * i + 1], pal[4 * i]])
                assert rgb[y][3 * x : 3 * x + 3] == want
    # mode coverage: an odd payload must contain BOTH run and absolute
    p = mm._bmp_bytes(1)
    i, has_run, has_abs = 14 + 40 + 1024, False, False
    while i + 2 <= len(p):
        c, v = p[i], p[i + 1]
        if c >= 2:
            has_run, i = True, i + 2
        elif c == 1:
            i += 2
        elif v >= 3:
            has_abs, i = True, i + 2 + v + (v % 2)
        elif v == 1:
            break
        else:
            i += 2
    assert has_run and has_abs


def test_bmp_decode_rejects_malformed():
    """Rejection contract: wrong magic, bad depth, unknown compression,
    delta escapes, row overruns, truncation — ValueError by name."""
    import struct

    good_rle = mm._bmp_bytes(1)
    good_rgb = mm._bmp_bytes(2)
    off = 14 + 40 + 1024

    with pytest.raises(ValueError, match="not a BMP"):
        mm._bmp_decode(b"MB" + good_rgb[2:])
    b = bytearray(good_rgb)
    struct.pack_into("<H", b, 28, 24)  # depth 24
    with pytest.raises(ValueError, match="non-8-bit"):
        mm._bmp_decode(bytes(b))
    b = bytearray(good_rgb)
    struct.pack_into("<I", b, 30, 2)  # BI_RLE4
    with pytest.raises(ValueError, match="compression 2"):
        mm._bmp_decode(bytes(b))
    with pytest.raises(ValueError, match="raster truncated"):
        mm._bmp_decode(good_rgb[:-8])
    with pytest.raises(ValueError, match="RLE stream truncated"):
        mm._bmp_decode(good_rle[:-4])
    # splice a delta escape (00 02 dx dy) at the start of the RLE data
    b = good_rle[:off] + b"\x00\x02\x01\x01" + good_rle[off:]
    b = bytearray(b)
    struct.pack_into("<I", b, 34, len(b) - off)
    with pytest.raises(ValueError, match="delta"):
        mm._bmp_decode(bytes(b))
    # an oversized run overruns the row
    b = good_rle[:off] + b"\xff\x07" + good_rle[off:]
    with pytest.raises(ValueError, match="overruns the row"):
        mm._bmp_decode(bytes(b))


def test_codec_rejection_contract_review_fixes():
    """Review r17 fixes: previously non-ValueError escapes now reject by
    name — GIF palette index past a small global table, GIF stream cut
    inside the image descriptor, BMP raster index past biClrUsed, and
    tRNS on a non-palette PNG (alpha-blind decode would be unfaithful)."""
    import struct
    import zlib

    good = mm._gif_bytes(2)
    desc_at = 6 + 7 + 768
    # shrink the declared global table to 2 entries (size bits 0); the
    # 8-bit LZW stream's indices then fall past the palette
    b = bytearray(good)
    b[10] = (b[10] & 0xF8) | 0x00
    small = bytes(b[: 13 + 6]) + good[13 + 768 :]
    with pytest.raises(ValueError, match="palette index out of range"):
        mm._gif_decode(small)
    with pytest.raises(ValueError, match="image descriptor truncated"):
        mm._gif_decode(good[: desc_at + 4])

    bmp = bytearray(mm._bmp_bytes(2))
    struct.pack_into("<I", bmp, 46, 2)  # biClrUsed = 2
    with pytest.raises(ValueError, match="palette index out of range"):
        mm._bmp_decode(bytes(bmp))

    w, h = 4, 2
    rows = [bytes((x * 13 + y * 31 + c * 7) % 256 for x in range(w) for c in range(3))
            for y in range(h)]
    filtered = b"".join(b"\x00" + r for r in rows)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"tRNS", bytes(6))
        + mm._png_chunk(b"IDAT", zlib.compress(filtered))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="tRNS on non-palette"):
        mm._png_decode(png)


def test_gif_anim_round_trip_and_rejections():
    """Every frame decodes back to its formula raster through the real
    GIF89a container (NETSCAPE loop + GCEs walked); transparency flags
    and disposal methods beyond none/keep reject by name."""
    for doc_id in range(8):
        w, h, nf, frames = mm._gif_anim_decode(mm._gif_anim_bytes(doc_id))
        ew, eh, enf, idx_frames, pal = mm._synth_gif_anim(doc_id)
        assert (w, h, nf) == (ew, eh, enf)
        for f in range(nf):
            exp = [
                bytes(pal[3 * r[x] + c] for x in range(ew) for c in range(3))
                for r in idx_frames[f]
            ]
            assert frames[f] == exp

    good = mm._gif_anim_bytes(2)
    gce_at = good.index(b"\x21\xf9\x04")
    b = bytearray(good)
    b[gce_at + 3] |= 0x01  # transparency flag
    with pytest.raises(ValueError, match="transparency"):
        mm._gif_anim_decode(bytes(b))
    b = bytearray(good)
    b[gce_at + 3] |= 0x08  # disposal = 2 (restore to background)
    with pytest.raises(ValueError, match="disposal"):
        mm._gif_anim_decode(bytes(b))
    with pytest.raises(ValueError, match="truncated"):
        mm._gif_anim_decode(good[:-10])
    # the single-frame decoder still rejects the animation by name
    with pytest.raises(ValueError, match="multi-image"):
        mm._gif_decode(good)
