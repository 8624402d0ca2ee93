"""Unit tests for the feature-engineering operators (operators/graph.py,
the count-min additions in operators/sketches.py, plans/features.py) —
properties the fixture-level oracle parity can't isolate: the CMS
overestimate guarantee, PageRank mass conservation and convergence
direction, and decile-bin boundary behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark.operators import graph as gr
from spanner_jdbc_converter_spark.operators import sketches as sk


class TestCountMin:
    def test_estimates_never_undercount(self, spark):
        df = spark.createDataFrame(
            [Row(k=i % 7) for i in range(200)] + [Row(k=99) for _ in range(50)]
        )
        exact = {r.k: r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
        est = {r.k: r.cms_n for r in sk.cms_estimates(df, "k").collect()}
        assert set(est) == set(exact)
        for k, n in exact.items():
            assert est[k] >= n  # CMS overestimates, never under

    def test_grid_is_bounded(self, spark):
        df = spark.createDataFrame([Row(k=i) for i in range(5000)])
        cells = sk.cms_cells(df, F.col("k"))
        assert cells.count() <= sk.CMS_DEPTH * sk.CMS_WIDTH
        # total mass per seed row equals the input size
        per_seed = {r.seed: r.t for r in cells.groupBy("seed").agg(F.sum("n").alias("t")).collect()}
        assert all(t == 5000 for t in per_seed.values())


class TestPageRank:
    def _edges(self, spark, pairs):
        return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])

    def test_symmetric_graph_uniform_ranks(self, spark):
        # a 3-cycle both directions: perfectly symmetric → uniform ranks
        e = self._edges(
            spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"), ("c", "a")]
        )
        ranks = {r.node: r.rank for r in gr.pagerank_fixed(e, iterations=5).collect()}
        assert ranks == pytest.approx({"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}, abs=1e-9)

    def test_sink_attracts_mass(self, spark):
        # star pointing at z: z's rank must exceed the spokes'
        e = self._edges(spark, [("a", "z"), ("b", "z"), ("c", "z"), ("z", "a")])
        ranks = {r.node: r.rank for r in gr.pagerank_fixed(e, iterations=3).collect()}
        assert ranks["z"] > ranks["a"] > ranks["b"] == ranks["c"]

    def test_mass_conserved_without_dangling(self, spark):
        # no dangling nodes → total rank stays 1 (up to the round-12 grid)
        e = self._edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
        total = sum(r.rank for r in gr.pagerank_fixed(e, iterations=4).collect())
        assert total == pytest.approx(1.0, abs=1e-9)

    def test_planning_scale_rounds_bit_identical_and_aqe_restored(self, spark):
        """r18: planning_scale=True fuses the rounds into ONE AQE-off
        checkpoint job — the recurrence is unchanged, so ranks must be
        BIT-identical to the per-round-checkpoint default on an
        asymmetric graph, and the session's AQE conf must be restored."""
        pairs = [("a", "z"), ("b", "z"), ("c", "z"), ("z", "a"), ("a", "b")]
        e = self._edges(spark, pairs)
        want = {r.node: r.rank for r in gr.pagerank_fixed(e, iterations=3).collect()}
        before = spark.conf.get("spark.sql.adaptive.enabled")
        got = {
            r.node: r.rank
            for r in gr.pagerank_fixed(
                e, iterations=3, planning_scale=True
            ).collect()
        }
        assert got == want  # exact equality — same IEEE/DECIMAL recurrence
        assert spark.conf.get("spark.sql.adaptive.enabled") == before


class TestWeightedPageRank:
    def test_weights_shift_mass_and_uniform_weights_match_unweighted(self, spark):
        # b->a carries 9x the weight of b->c: a must outrank c
        e = spark.createDataFrame(
            [
                Row(src="a", dst="b", w=1),
                Row(src="b", dst="a", w=9),
                Row(src="b", dst="c", w=1),
                Row(src="c", dst="b", w=1),
            ]
        )
        ranks = {
            r.node: r.rank
            for r in gr.pagerank_weighted_fixed(e, iterations=4).collect()
        }
        assert ranks["a"] > ranks["c"]
        assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)

        # w=1 everywhere must reproduce the unweighted recurrence exactly
        uni = spark.createDataFrame(
            [Row(src=s, dst=d, w=1) for s, d in [("a", "b"), ("b", "c"), ("c", "a")]]
        )
        got = {
            r.node: r.rank
            for r in gr.pagerank_weighted_fixed(uni, iterations=3).collect()
        }
        want = {
            r.node: r.rank
            for r in gr.pagerank_fixed(uni.drop("w"), iterations=3).collect()
        }
        assert got == want


class TestDecileBinning:
    def test_bins_are_equi_depth(self, spark, sf_dir):
        from spanner_jdbc_converter_spark.plans.features import agg_decile_binning

        rows = agg_decile_binning(spark, sf_dir).collect()
        assert {r.bin for r in rows} == set(range(1, 11))
        counts = [r.n_orders for r in rows]
        # equi-depth: every bin within ±2 of every other (interpolation ties)
        assert max(counts) - min(counts) <= 2
        by_bin = {r.bin: r for r in rows}
        for b in range(1, 10):
            assert by_bin[b].max_price <= by_bin[b + 1].min_price


class TestAutocorr:
    def test_alternating_series_is_anticorrelated(self, spark):
        import datetime as dt
        from pyspark.sql import Row
        from spanner_jdbc_converter_spark.plans import behavior  # noqa: F401

        # direct operator path: build a tiny events-shaped frame and reuse
        # the registered plan's logic via a local session view
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            Row(user_id=1, event_id=i, ts=t0 + dt.timedelta(minutes=i),
                value=(100.0 if i % 2 == 0 else 0.0))
            for i in range(10)
        ]
        df = spark.createDataFrame(rows)
        from pyspark.sql import Window
        us = F.unix_micros(F.col("ts"))
        w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
        p = df.select(
            "user_id",
            F.col("value").cast("decimal(18,4)").alias("x"),
            F.lead("value").over(w).cast("decimal(18,4)").alias("y"),
        ).filter(F.col("y").isNotNull())
        s = p.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"), F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        ).collect()[0]
        n, sx, sy = float(s.n), float(s.sx), float(s.sy)
        sxy, sxx, syy = float(s.sxy), float(s.sxx), float(s.syy)
        r = (n * sxy - sx * sy) / ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
        assert r < -0.9  # alternating high/low → strong anticorrelation


class TestRollupMerge:
    def test_merge_equals_full_recompute(self, spark, sf_dir, duck):
        """The entry's defining property, asserted directly: partial-state
        merge across the cutoff reproduces the full-scan rollup."""
        from spanner_jdbc_converter_spark.plans.features import (
            agg_incremental_rollup_merge,
        )
        from spanner_jdbc_converter_spark.catalog import load_table

        merged = agg_incremental_rollup_merge(spark, sf_dir)
        ev = load_table(spark, sf_dir, "events")
        full = ev.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
            F.max("ts").alias("last_seen"),
        )
        a = {tuple(r) for r in merged.collect()}
        b = {tuple(r) for r in full.collect()}
        assert a == b


class TestTriangles:
    def test_k4_and_path(self, spark):
        from pyspark.sql import Row

        k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
        out = {
            r.node: r.n_triangles
            for r in gr.triangle_counts(
                spark.createDataFrame([Row(src=a, dst=b) for a, b in k4])
            ).collect()
        }
        assert out == {n: 3 for n in "abcd"}  # K4: C(3,2)=3 triangles per node
        path = spark.createDataFrame(
            [Row(src="a", dst="b"), Row(src="b", dst="c"), Row(src="c", dst="d")]
        )
        out = {r.node: r.n_triangles for r in gr.triangle_counts(path).collect()}
        assert out == {"a": 0, "b": 0, "c": 0, "d": 0}

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        from pyspark.sql import Row

        tri = [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"), ("c", "a")]
        out = {
            r.node: r.n_triangles
            for r in gr.triangle_counts(
                spark.createDataFrame([Row(src=a, dst=b) for a, b in tri])
            ).collect()
        }
        assert out == {"a": 1, "b": 1, "c": 1}

    def test_estimate_report_semantics(self, spark):
        """DOULION report invariants on a clique: exact count right,
        sampled count equals a replayed md5-keep closure (determinism —
        the estimate is reproducible, not RNG), estimator = sampled·p⁻³,
        rel_error consistent; a triangle-free graph reports 0.0 error."""
        from pyspark.sql import Row

        from spanner_jdbc_converter_spark.functions.hashing import md5_long

        k9 = [(f"n{a}", f"n{b}") for a in range(9) for b in range(9) if a < b]
        edges = spark.createDataFrame([Row(src=a, dst=b) for a, b in k9])
        row = gr.triangle_estimate(edges).first()
        assert row.n_edges == 36
        assert row.exact_triangles == 84  # C(9,3)
        assert row.est_triangles == row.sampled_triangles * 64
        if row.exact_triangles:
            expect_rel = round(
                abs(row.est_triangles - row.exact_triangles)
                / row.exact_triangles,
                6,
            )
            assert row.rel_error == expect_rel
        # replay the deterministic keep + exact closure on the kept set
        kept = (
            edges.select(
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
        assert row.n_kept == kept.count()
        replay = (
            gr.triangle_counts(kept, src_col="u", dst_col="v")
            .agg((F.sum("n_triangles") / 3).cast("long").alias("t"))
            .first()
            .t
        )
        assert row.sampled_triangles == replay
        # triangle-free path: zero everywhere, rel_error exactly 0.0
        path = spark.createDataFrame(
            [Row(src="a", dst="b"), Row(src="b", dst="c")]
        )
        r0 = gr.triangle_estimate(path).first()
        assert (r0.exact_triangles, r0.sampled_triangles, r0.rel_error) == (
            0,
            0,
            0.0,
        )


class TestTriangleClosureSharing:
    def test_corpus_entries_share_one_exact_closure(self, spark, sf_dir, monkeypatch):
        """VERDICT r16 "Next round #2": graph_triangle_coeffs and
        graph_triangle_estimate must run the exact O(m^1.5) oriented
        closure ONCE per (session, fixture) via the _TRI_STORE cache —
        coeffs builds it; estimate adds ONLY the sparsified closure.
        Counter on gr._oriented_triangles pins the construction count;
        the persisted per_node frame pins the execution."""
        from spanner_jdbc_converter_spark.plans import QUERIES
        from spanner_jdbc_converter_spark.plans import features as ft

        ft._tri_closure.clear()
        calls: list[int] = []
        real = gr._oriented_triangles

        def counting(e, deg):
            calls.append(1)
            return real(e, deg)

        monkeypatch.setattr(gr, "_oriented_triangles", counting)
        coeffs = QUERIES["graph_triangle_coeffs"](spark, sf_dir)
        assert coeffs.count() > 0
        assert len(calls) == 1  # the one exact closure
        est_row = QUERIES["graph_triangle_estimate"](spark, sf_dir).first()
        assert len(calls) == 2  # + the sparsified closure ONLY
        assert len(ft._tri_closure.entries) == 1
        # the shared exact count is consistent with the per-node view:
        # Σ per-node participation = 3 × global triangle count
        total = (
            coeffs.agg(F.sum("n_triangles").alias("s")).first().s or 0
        )
        assert est_row.exact_triangles == total // 3

    def test_wrapper_and_from_forms_agree(self, spark):
        """triangle_counts/triangle_estimate wrappers must equal the
        closure-sharing *_from assembly on a hand graph (K4 minus one
        edge + a pendant)."""
        from pyspark.sql import Row

        edges = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in
             [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("d", "e")]]
        )
        e, per_node = gr.triangle_closure(edges)
        got = {
            (r.node, r.n_triangles, r.clustering)
            for r in gr.triangle_counts_from(e, per_node, with_clustering=True).collect()
        }
        want = {
            (r.node, r.n_triangles, r.clustering)
            for r in gr.triangle_counts(edges, with_clustering=True).collect()
        }
        assert got == want
        assert (
            gr.triangle_estimate_from(e, per_node).first()
            == gr.triangle_estimate(edges).first()
        )


class TestKCorePeel:
    def test_cascade_layers_on_hand_graph(self, spark):
        """K5 clique + a fringe that peels in a CASCADE: node 6 and 8
        fall in round 1 (degree < 3), which drops node 7 to degree 1 so
        it falls in round 2; the clique survives all rounds (layer 5).
        Mean degree = 2*14 // 8 = 3, so k_offset=0 puts k at 3."""
        clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
        fringe = [(5, 6), (5, 7), (6, 7), (7, 8)]
        df = spark.createDataFrame(clique + fringe, "src long, dst long")
        got = {
            r.node: r.layer
            for r in gr.kcore_peel_layers(df, k_offset=0, rounds=4).collect()
        }
        assert got == {1: 5, 2: 5, 3: 5, 4: 5, 5: 5, 6: 1, 7: 2, 8: 1}

    def test_canonicalization_and_oracle_agree(self, spark, duck):
        """Duplicate, reversed, and self-loop edges collapse before the
        peel, and the unrolled DuckDB oracle replays the identical
        cascade including the data-relative threshold."""
        clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
        fringe = [(6, 5), (5, 7), (6, 7), (7, 8), (5, 6), (8, 8)]
        df = spark.createDataFrame(clique + fringe, "src long, dst long")
        got = sorted(
            (r.node, r.layer)
            for r in gr.kcore_peel_layers(df, k_offset=0, rounds=4).collect()
        )
        rows = ", ".join(f"({a}, {b})" for a, b in clique + fringe)
        sql = gr.kcore_oracle_sql(
            f"SELECT * FROM (VALUES {rows}) AS t(src, dst)",
            k_offset=0,
            rounds=4,
        )
        assert got == sorted(tuple(r) for r in duck.execute(sql).fetchall())

    def test_kcore_shares_the_session_edge_frame(self, spark, sf_dir, monkeypatch):
        """The basket derivation + canonicalization must run ONCE per
        (session, fixture) across kcore and the triangle entries — the
        _EDGE_STORE level below the closure cache."""
        from spanner_jdbc_converter_spark.plans import QUERIES
        from spanner_jdbc_converter_spark.plans import features as ft

        ft._tri_closure.clear()
        ft._copurchase_pair_counts.clear()
        calls: list[int] = []
        real = ft._copurchase_pairs

        def counting(spark, sf_dir):
            calls.append(1)
            return real(spark, sf_dir)

        monkeypatch.setattr(ft, "_copurchase_pairs", counting)
        assert QUERIES["graph_kcore_layers"](spark, sf_dir).count() > 0
        assert len(calls) == 1
        assert QUERIES["graph_triangle_coeffs"](spark, sf_dir).count() > 0
        assert len(calls) == 1
        # r18: label propagation consumes the same derivation (the
        # support-≥2 filter over the pair-count frame)
        assert QUERIES["graph_label_propagation"](spark, sf_dir).count() > 0
        assert len(calls) == 1  # one derivation feeds all four entries


class TestBrandBasketSharing:
    def test_brand_pair_counts_match_inline_derivation(self, spark, sf_dir):
        """r18: the session-cached brand pair-count frame must equal the
        old inline derivation (directed y != x counts are symmetric, so
        the x < y count frame carries the identical support statistic),
        and the pagerank/triangle support-≥5 subgraphs read from it must
        equal the old directed/oriented edge sets."""
        from pyspark.sql import functions as F

        from spanner_jdbc_converter_spark.catalog import load_table
        from spanner_jdbc_converter_spark.plans import features as ft

        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        baskets = (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        )
        directed = F.expr(
            "flatten(transform(brands, x -> transform("
            "filter(brands, y -> y != x), y -> struct(x AS src, y AS dst))))"
        )
        old_edges = {
            (r.src, r.dst)
            for r in (
                baskets.select(F.explode(directed).alias("e"))
                .groupBy(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= 5)
                .select("src", "dst")
                .collect()
            )
        }
        half = (
            ft._brand_pair_counts(spark, sf_dir)
            .filter(F.col("n") >= 5)
            .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        )
        new_edges = {(r.src, r.dst) for r in half.collect()}
        new_edges |= {(b, a) for a, b in new_edges}
        assert new_edges == old_edges


class TestLabelPropagation:
    def test_label_propagation_from_matches_fixed(self, spark):
        """r18: the _from variant over a pre-canonical frame (and its
        lazy initial-label frame) must reproduce label_propagation_fixed
        exactly."""
        c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        c2 = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
        edges = c1 + c2 + [(4, 11)]
        df = spark.createDataFrame(edges, "src long, dst long")
        want = sorted(
            (r.node, r.community)
            for r in gr.label_propagation_fixed(df, iterations=3).collect()
        )
        ce = gr._canonical_undirected(df, "src", "dst")
        got = sorted(
            (r.node, r.community)
            for r in gr.label_propagation_from(ce, iterations=3).collect()
        )
        assert got == want

    def test_two_cliques_with_a_bridge(self, spark):
        """Two K4 cliques joined by one bridge edge: LPA must label each
        clique with its minimum id and the bridge must not merge them
        (each endpoint's plurality stays inside its own clique)."""
        c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        c2 = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
        df = spark.createDataFrame(c1 + c2 + [(4, 11)], "src long, dst long")
        got = {
            r.node: r.community
            for r in gr.label_propagation_fixed(df, iterations=3).collect()
        }
        assert {got[n] for n in range(1, 5)} == {1}
        assert {got[n] for n in range(11, 15)} == {11}

    def test_oracle_agrees_with_ties_and_duplicates(self, spark, duck):
        """Duplicate/reversed edges collapse; the (count DESC, label
        ASC) tie-break matches the unrolled oracle on a star whose
        leaves tie (every leaf sees only the hub, the hub sees an
        all-singleton tie broken by the smallest leaf)."""
        edges = [(5, 1), (1, 5), (5, 2), (5, 3), (5, 4), (2, 5), (1, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(
            (r.node, r.community)
            for r in gr.label_propagation_fixed(df, iterations=2).collect()
        )
        rows = ", ".join(f"({a}, {b})" for a, b in edges)
        sql = gr.label_propagation_oracle_sql(
            f"SELECT * FROM (VALUES {rows}) AS t(src, dst)", iterations=2
        )
        assert got == sorted(tuple(r) for r in duck.execute(sql).fetchall())


class TestLogbucketQuantiles:
    def test_error_guarantee_and_exact_small_values(self, spark):
        """rel_error stays under the 2^-QSK_SUBBITS bound on a
        log-uniform-ish synthetic, and values small enough to fit the
        sub-bucket bits are estimated EXACTLY (their bucket is the
        value)."""
        from pyspark.sql import Row

        big = spark.createDataFrame(
            [Row(v=(7 ** i) % 999_983 + 1) for i in range(2000)]
        )
        out = sk.logbucket_quantiles(big, F.col("v")).collect()
        assert len(out) == len(sk.QSK_PROBS)
        for r in out:
            assert 0 <= r.rel_error < 2 ** -sk.QSK_SUBBITS
            assert r.est_units <= r.exact_units
        small = spark.createDataFrame([Row(v=i) for i in range(1, 32)])
        for r in sk.logbucket_quantiles(small, F.col("v")).collect():
            assert r.est_units == r.exact_units  # <= SUBBITS+1 bits: exact

    def test_sql_twin_agrees_on_edge_shapes(self, spark, duck):
        """Oracle replay on shapes the fixture may not hit: a single
        value, all-equal values, and a power-of-two boundary pile."""
        from pyspark.sql import Row

        for vals in ([5], [16] * 50, [255, 256, 257] * 20, [1, 2**40]):
            df = spark.createDataFrame([Row(v=int(v)) for v in vals])
            got = sorted(
                tuple(r) for r in sk.logbucket_quantiles(df, F.col("v")).collect()
            )
            rows = ", ".join(f"({v})" for v in vals)
            sql = sk.logbucket_quantiles_sql(
                f"(SELECT * FROM (VALUES {rows}) AS t(v))", "v"
            )
            want = sorted(tuple(r) for r in duck.execute(sql).fetchall())
            assert got == want
