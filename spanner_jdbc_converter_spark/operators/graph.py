"""Iterative graph operators beyond connected components: fixed-iteration
PageRank over an arbitrary edge DataFrame.

Companion to operators/dedup.py::dedup_groups (min-label + pointer
jumping); same iterative-DataFrame discipline: every round is keyed
joins + one grouped aggregate, the lineage is cut with ``session.stage``
per iteration so the plan stays constant-depth, and the iteration count
is FIXED so a DuckDB oracle can unroll the rounds exactly.

Float parity for an iterative double recurrence: a plain SUM over
double contributions is shuffle-order-dependent at the last ulp, which
compounds across iterations.  Instead every per-edge contribution is
rounded to 12 digits and summed as DECIMAL(28,12) — exact and
order-independent — then the damping update is a fixed chain of IEEE
double ops on engine-identical inputs, re-rounded to 12.  Every engine
reproduces the same ranks bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark import session

#: Standard damping factor.
DAMPING = 0.85
#: Per-iteration rounding (12 digits) — the parity contract above.
RANK_SCALE = 12


def pagerank_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = DAMPING,
    planning_scale: bool = False,
) -> DataFrame:
    """PageRank with a FIXED iteration count over a directed edge list
    (pass both directions for an undirected graph).  Returns
    (node, rank) for every node appearing as a source or destination.

    Scale: the node frame and out-degrees are one distinct + one groupBy
    over the edges; each iteration is an equi-join of ranks onto edges
    (both keyed on the node id — co-partitioned after the first
    shuffle), a map-side-combined DECIMAL groupBy on dst, and a left
    join back to the node frame for dangling/no-inbound nodes.  Ranks
    are |V|-sized; when |V| ≪ |E| Spark broadcasts them onto the edge
    scan automatically.  :func:`session.stage` truncates lineage so the
    plan does not deepen with the iteration count (same discipline as
    dedup.connected_groups).

    Nodes with no outbound edges (dangling) simply leak their mass —
    the plain PageRank-without-redistribution variant — which keeps the
    per-iteration recurrence local to the edge list; the oracle unrolls
    the identical recurrence.

    ``planning_scale=True``: for graphs whose NODE DOMAIN is
    fixed-cardinality by construction at any corpus scale (the 25-value
    brand graph — the data-scale work is the edge DERIVATION, which is
    checkpointed before the loop), the per-round checkpoint jobs are
    pure driver floor: profiled 2.4 s of a 2.5 s build in 5 checkpoint
    actions (38 AQE stage-jobs) for ≤625-row frames.  In this mode the rounds compose LAZILY and
    materialize in ONE checkpoint under ``planning_scale_rounds`` (AQE
    off — the clustering round loops' justification verbatim: fixed key
    domain ⇒ skew impossible, metadata-sized reduce by construction ⇒
    nothing for AQE to adapt, and the replan between every tiny stage
    pair is the cost being removed).  The recurrence itself — join
    order, DECIMAL sums, round-12 — is UNCHANGED, so ranks are
    bit-identical (oracle-checked); only the materialization boundary
    moves.  Callers with data-scale node domains (e.g. the
    vocabulary-sized TextRank graph) must keep the default: their
    rounds genuinely need AQE and per-round lineage cuts.
    """
    # Materialize the edge list ONCE: every subsequent action (node
    # count, the initial checkpoint, each iteration) would otherwise
    # recompute the full upstream derivation — measured 9.4 s → 1.x s on
    # the brand graph, and at 100 TB the derivation is the expensive part.
    (e,) = session.stage(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = nodes.count()  # one scalar for the teleport term — planning-time
    base = (1.0 - damping) / n_nodes

    def _round(ranks: DataFrame) -> DataFrame:
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(F.broadcast(outdeg), "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("rank") / F.col("outdeg"), RANK_SCALE)
                .cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        return nodes.join(contrib, "node", "left").select(
            "node",
            F.round(
                F.lit(base)
                + F.lit(damping)
                * F.coalesce(F.col("mass").cast("double"), F.lit(0.0)),
                RANK_SCALE,
            ).alias("rank"),
        )

    ranks = nodes.select(
        "node", F.round(F.lit(1.0 / n_nodes), RANK_SCALE).alias("rank")
    )
    if planning_scale:
        # fixed node domain (see docstring): compose every round lazily
        # and run them as ONE AQE-off checkpoint job — the recurrence is
        # unchanged, only the materialization boundary moves
        with session.planning_scale_rounds(e.sparkSession):
            for _ in range(iterations):
                ranks = _round(ranks)
            return session.stage(ranks)[0]
    (ranks,) = session.stage(ranks)
    for _ in range(iterations):
        (ranks,) = session.stage(_round(ranks))
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    iterations: int = 3,
    damping: float = DAMPING,
) -> str:
    """DuckDB rendering of :func:`pagerank_fixed`: unrolls the fixed
    iterations over ``edges_cte`` (a CTE body producing (src, dst))
    with the identical round-12 / DECIMAL-sum recurrence."""
    q = [f"WITH e AS ({edges_cte}),"]
    q.append(
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e)),"
    )
    q.append("od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),")
    q.append("nn AS (SELECT COUNT(*) AS n FROM nodes),")
    q.append(
        f"r0 AS (SELECT node, ROUND(1.0 / n, {RANK_SCALE}) AS rank "
        "FROM nodes CROSS JOIN nn),"
    )
    for i in range(iterations):
        q.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"SUM(CAST(ROUND(r{i}.rank / od.outdeg, {RANK_SCALE}) "
            f"AS DECIMAL(28,12))) AS mass "
            f"FROM e JOIN r{i} ON e.src = r{i}.node "
            f"JOIN od ON e.src = od.src GROUP BY e.dst),"
        )
        q.append(
            f"r{i + 1} AS (SELECT nodes.node, "
            f"ROUND({(1.0 - damping)!r} / nn.n + {damping!r} * "
            f"COALESCE(CAST(c{i}.mass AS DOUBLE), 0.0), {RANK_SCALE}) AS rank "
            f"FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.node),"
        )
    last = q.pop()
    q.append(last.rstrip(","))
    q.append(f"SELECT node, rank FROM r{iterations}")
    return "\n".join(q)


def _canonical_undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Canonical (u < v) distinct undirected edge frame, self-loops
    dropped, MATERIALIZED (it feeds four branches downstream)."""
    return session.stage(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )[0]


def _degree_frame(e: DataFrame) -> DataFrame:
    """(node, deg) over a canonical undirected edge frame."""
    return (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _oriented_triangles(e: DataFrame, deg: DataFrame) -> DataFrame:
    """(s, t1, t2) — every triangle of the canonical edge frame exactly
    once, enumerated at its lowest-(degree, id) vertex (the Suri &
    Vassilvitskii orientation: wedge fan-out Σ min-degree², hub skew
    bounded by construction)."""
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # orient lower-(degree, id) endpoint → higher
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        e.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    # wedges at the low-degree pivot: s→t1, s→t2 (t1 < t2 to count once)
    o1 = o.select(F.col("s"), F.col("t").alias("t1"))
    o2 = o.select(F.col("s"), F.col("t").alias("t2"))
    wedges = o1.join(o2, "s").filter(F.col("t1") < F.col("t2"))
    # close the wedge: the (t1, t2) edge must exist (undirected form)
    und = e.select(F.col("u").alias("t1"), F.col("v").alias("t2"))
    return wedges.join(und, ["t1", "t2"]).select("s", "t1", "t2")


def triangle_closure(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> tuple[DataFrame, DataFrame]:
    """The ONE exact closure both triangle surfaces consume: returns
    ``(e, per_node)`` — the canonical undirected edge frame (checkpointed;
    it feeds degree, both wedge sides, the closing membership join, and
    the estimate's md5 keep filter) and the |V|-bounded per-node
    triangle participation counts from a single oriented wedge closure.
    ``triangle_counts`` and ``triangle_estimate`` are wrappers; callers
    that need BOTH surfaces on one graph (the corpus's coeffs/estimate
    pair) build this once, persist ``per_node`` (it is |V|-sized, never
    the triangle stream itself), and hand the pieces to the ``*_from``
    assemblers below — the O(m^{3/2}) closure runs once per session,
    not once per entry (VERDICT r16 "Next round #2")."""
    e = _canonical_undirected(edges, src_col, dst_col)
    return e, _per_node_triangles(e)


def _per_node_triangles(e: DataFrame) -> DataFrame:
    """(node, n_triangles) over nodes in ≥1 triangle — one pass over
    the triangle stream (a union of three selects would re-run the
    wedge join once per branch; Spark does not dedupe common subplans
    across union legs — measured 12 min vs 4 min on the 10x part
    graph)."""
    tris = _oriented_triangles(e, _degree_frame(e))
    return (
        tris.select(F.explode(F.array("s", "t1", "t2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    with_clustering: bool = False,
) -> DataFrame:
    """Per-node triangle participation counts over an UNDIRECTED edge
    list (pass each edge once, either direction; duplicates and self
    loops are dropped).

    The classic distributed formulation: orient every edge from the
    lower-degree endpoint to the higher (ties by node id), so each
    wedge is enumerated exactly once AT ITS LOWEST-DEGREE VERTEX —
    the join fan-out is Σ min-degree², not Σ degree², which is what
    keeps hub vertices from exploding the wedge join at scale
    (Suri & Vassilvitskii, "Counting triangles and the curse of the
    last reducer", WWW 2011).  The plan is two keyed equi-joins over
    the oriented edge frame plus one membership semi-join; the degree
    frame is |V|-sized and broadcast.

    Output: (node, n_triangles) for every node of the edge set —
    nodes in no triangle included with 0.  Exact integers only.  With
    ``with_clustering=True`` the frame becomes (node, degree,
    n_triangles, clustering) restricted to degree ≥ 2 — clustering =
    2T / (deg·(deg−1)), ONE double division rounded to 6 (r15: the
    graph_triangle_coeffs surface; one implementation, two shapes).
    """
    e, per_node = triangle_closure(edges, src_col, dst_col)
    return triangle_counts_from(e, per_node, with_clustering=with_clustering)


def triangle_counts_from(
    e: DataFrame, per_node: DataFrame, with_clustering: bool = False
) -> DataFrame:
    """Assemble the :func:`triangle_counts` output from a precomputed
    :func:`triangle_closure` — only a |V|-sized degree groupBy and the
    output join remain; the wedge closure is NOT re-run."""
    deg = _degree_frame(e)
    if with_clustering:
        return (
            deg.filter(F.col("deg") >= 2)
            .join(per_node, "node", "left")
            .select(
                "node",
                F.col("deg").cast("long").alias("degree"),
                F.coalesce(F.col("n_triangles"), F.lit(0))
                .cast("long")
                .alias("n_triangles"),
                F.round(
                    F.coalesce(F.col("n_triangles"), F.lit(0))
                    * 2.0
                    / (F.col("deg").cast("double") * (F.col("deg") - 1)),
                    6,
                ).alias("clustering"),
            )
        )
    return (
        deg.select("node")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
    )


def pagerank_weighted_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    iterations: int = 3,
    damping: float = DAMPING,
) -> DataFrame:
    """Weight-proportional PageRank with a FIXED iteration count: a
    node's rank flows to each out-neighbor in proportion to the edge
    weight (rank·w / Σ_out w) — the TextRank formulation, and the
    general form for co-occurrence / affinity graphs where multiplicity
    carries signal an unweighted walk discards.

    Same discipline as :func:`pagerank_fixed` (which see): one edge
    materialization, per-round keyed joins + one DECIMAL groupBy,
    :func:`session.stage` lineage cuts, round-12 contributions.  Weights
    must be exact integers (counts) so rank·w and the out-weight totals
    stay IEEE-deterministic: rank·w is one double multiply of an exactly-
    promoted long, the division by the exact out-weight is one more op,
    and the DECIMAL sum is order-free — the oracle unrolls identically.
    """
    (e,) = session.stage(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    n_nodes = nodes.count()
    base = (1.0 - damping) / n_nodes

    (ranks,) = session.stage(
        nodes.select("node", F.round(F.lit(1.0 / n_nodes), RANK_SCALE).alias("rank"))
    )

    for _ in range(iterations):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(F.broadcast(outw), "src")
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.col("rank") * F.col("w") / F.col("outw"), RANK_SCALE
                )
                .cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        (ranks,) = session.stage(
            nodes.join(contrib, "node", "left").select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * F.coalesce(F.col("mass").cast("double"), F.lit(0.0)),
                    RANK_SCALE,
                ).alias("rank"),
            )
        )
    return ranks


def pagerank_weighted_oracle_sql(
    edges_cte: str,
    iterations: int = 3,
    damping: float = DAMPING,
) -> str:
    """DuckDB rendering of :func:`pagerank_weighted_fixed` over
    ``edges_cte`` (a CTE body producing (src, dst, w))."""
    q = [f"WITH e AS ({edges_cte}),"]
    q.append(
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e)),"
    )
    q.append(
        "ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY src),"
    )
    q.append("nn AS (SELECT COUNT(*) AS n FROM nodes),")
    q.append(
        f"r0 AS (SELECT node, ROUND(1.0 / n, {RANK_SCALE}) AS rank "
        "FROM nodes CROSS JOIN nn),"
    )
    for i in range(iterations):
        q.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"SUM(CAST(ROUND(r{i}.rank * e.w / ow.outw, {RANK_SCALE}) "
            f"AS DECIMAL(28,12))) AS mass "
            f"FROM e JOIN r{i} ON e.src = r{i}.node "
            f"JOIN ow ON e.src = ow.src GROUP BY e.dst),"
        )
        q.append(
            f"r{i + 1} AS (SELECT nodes.node, "
            f"ROUND({(1.0 - damping)!r} / nn.n + {damping!r} * "
            f"COALESCE(CAST(c{i}.mass AS DOUBLE), 0.0), {RANK_SCALE}) AS rank "
            f"FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.node),"
        )
    last = q.pop()
    q.append(last.rstrip(","))
    q.append(f"SELECT node, rank FROM r{iterations}")
    return "\n".join(q)


def triangle_oracle_sql(edges_sql: str) -> str:
    """DuckDB replay of :func:`triangle_counts` over an edge derivation
    (``edges_sql`` must yield columns src, dst): same (degree, id)
    orientation, wedge closure, per-node explode, coefficient round."""
    return f"""
    WITH raw_edges AS ({edges_sql}),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw_edges WHERE src <> dst),
    nodes AS (SELECT a AS node FROM und UNION ALL SELECT b FROM und),
    deg AS (SELECT node, COUNT(*) AS deg FROM nodes GROUP BY node),
    oriented AS (
      SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS dv
      FROM und u
      JOIN deg da ON da.node = u.a
      JOIN deg db ON db.node = u.b
    ),
    tris AS (
      SELECT e1.u, e1.v AS v1, e2.v AS v2
      FROM oriented e1
      JOIN oriented e2 ON e1.u = e2.u
       AND ((e1.dv, e1.v) < (e2.dv, e2.v))
      JOIN oriented c ON c.u = e1.v AND c.v = e2.v
    ),
    per_node AS (
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT u AS node FROM tris
        UNION ALL SELECT v1 FROM tris
        UNION ALL SELECT v2 FROM tris
      ) GROUP BY node
    )
    SELECT d.node, CAST(d.deg AS BIGINT) AS degree,
           CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(COALESCE(p.n_triangles, 0) * 2.0
                 / (CAST(d.deg AS DOUBLE) * (d.deg - 1)), 6) AS clustering
    FROM deg d LEFT JOIN per_node p ON p.node = d.node
    WHERE d.deg >= 2
    """


#: DOULION keep probability is 1/P_INV — p=1/4 cuts expected wedge-pair
#: work by ~16x while the count·p⁻³ estimator stays unbiased
#: (Tsourakakis, Kang, Miller, Faloutsos, KDD 2009).
DOULION_P_INV = 4


def triangle_estimate(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    p_inv: int = DOULION_P_INV,
    seed_tag: str = "doulion",
) -> DataFrame:
    """DOULION (1±ε) triangle-count estimate beside the exact count —
    the sketch-beside-exact discipline (HLL/CMS entries) applied to the
    O(m^{3/2}) wedge closure: keep each canonical edge with
    DETERMINISTIC probability 1/p_inv (md5 of the seed-tagged edge
    key — reproducible across engines and runs, no RNG state), close
    wedges on the sparsified graph only, and scale the sampled count by
    p_inv³ (each surviving triangle needed its three edges kept).

    At 100× edges the exact closure's Σ min-degree² wedge work grows
    superlinearly; the sparsified closure does ~p² of that work for an
    unbiased global estimate — the knob a 100 TB pass turns when it
    needs the triangle density, not the per-node counts.

    Output (ONE row): n_edges, n_kept, exact_triangles,
    sampled_triangles, est_triangles (= sampled · p_inv³, exact
    integer), rel_error (|est−exact|/exact, ROUND 6; 0.0 on a
    triangle-free graph).  The exact count rides the SAME oriented
    closure the estimate sparsifies, so the report grades the
    estimator against its own exact twin."""
    e, per_node = triangle_closure(edges, src_col, dst_col)
    return triangle_estimate_from(e, per_node, p_inv=p_inv, seed_tag=seed_tag)


def triangle_estimate_from(
    e: DataFrame,
    per_node: DataFrame,
    p_inv: int = DOULION_P_INV,
    seed_tag: str = "doulion",
) -> DataFrame:
    """Assemble the :func:`triangle_estimate` report from a precomputed
    :func:`triangle_closure`: the exact global count is Σ per-node
    participation / 3 (each triangle lands at its three vertices), so
    only the SPARSIFIED closure runs here — the exact O(m^{3/2}) wedge
    join is paid once and shared with :func:`triangle_counts_from`."""
    from spanner_jdbc_converter_spark.functions.hashing import md5_long

    (kept,) = session.stage(
        e.filter(
            md5_long(F.concat_ws(":", F.lit(seed_tag), F.col("u"), F.col("v")))
            % p_inv
            == 0
        )
    )
    exact = per_node.agg(
        (F.coalesce(F.sum("n_triangles"), F.lit(0)) / 3)
        .cast("long")
        .alias("exact_triangles")
    )
    sampled = (
        _oriented_triangles(kept, _degree_frame(kept))
        .agg(F.count(F.lit(1)).alias("sampled_triangles"))
    )
    sizes = e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        kept.agg(F.count(F.lit(1)).alias("n_kept"))
    )
    est = (F.col("sampled_triangles") * (p_inv**3)).cast("long")
    rel = F.when(F.col("exact_triangles") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.abs(est - F.col("exact_triangles")).cast("double")
            / F.col("exact_triangles"),
            6,
        )
    )
    return (
        sizes.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(sampled))
        .select(
            "n_edges",
            "n_kept",
            "exact_triangles",
            "sampled_triangles",
            est.alias("est_triangles"),
            rel.alias("rel_error"),
        )
    )


def triangle_estimate_oracle_sql(
    edges_sql: str, p_inv: int = DOULION_P_INV, seed_tag: str = "doulion"
) -> str:
    """DuckDB replay of :func:`triangle_estimate`: same canonical edge
    frame, md5 keep, closed-wedge totals on both graphs (canonical
    a<b edges make the global count one three-way join), and the
    p_inv³ estimator."""
    from spanner_jdbc_converter_spark.functions.hashing import md5_long_sql

    keep = md5_long_sql(
        f"concat('{seed_tag}:', CAST(a AS VARCHAR), ':', CAST(b AS VARCHAR))"
    )

    def total(src: str, name: str) -> str:
        return f"""{name} AS (
      SELECT COUNT(*) AS n FROM {src} e1
      JOIN {src} e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN {src} e3 ON e3.a = e1.b AND e3.b = e2.b)"""

    return f"""
    WITH raw_edges AS ({edges_sql}),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw_edges WHERE src <> dst),
    kept AS (SELECT a, b FROM und WHERE {keep} % {p_inv} = 0),
    {total("und", "tri_full")},
    {total("kept", "tri_kept")}
    SELECT (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT COUNT(*) FROM kept) AS n_kept,
           f.n AS exact_triangles,
           k.n AS sampled_triangles,
           k.n * {p_inv ** 3} AS est_triangles,
           CASE WHEN f.n = 0 THEN 0.0
                ELSE ROUND(ABS(k.n * {p_inv ** 3} - f.n) * 1.0 / f.n, 6)
           END AS rel_error
    FROM tri_full f CROSS JOIN tri_kept k
    """


# ---------------------------------------------------------------------------
# k-core onion peel — fixed-round degeneracy layers.
# ---------------------------------------------------------------------------


def kcore_peel_layers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    k_offset: int = -25,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round k-core peel ("onion" decomposition) over an
    UNDIRECTED edge list: repeatedly delete every node whose CURRENT
    degree is below ``k``, labelling each node with the round it was
    peeled; nodes alive after ``rounds`` rounds carry ``rounds + 1``
    (the k-core layer).  The fourth classic graph primitive beside
    connected components, PageRank, and triangle counting — peel depth
    is the standard coreness/robustness feature (Seidman 1983; the
    onion variant layers the cascade itself).

    ``k`` is DATA-RELATIVE: ``(2|E| // |V|) + k_offset`` — the integer
    mean degree of the canonical graph plus a fixed offset, so one
    entry stays meaningful at every scale factor (integer arithmetic
    only: every engine derives the identical threshold).  The round
    count is FIXED so a DuckDB oracle can unroll the peel exactly —
    the same discipline as :func:`pagerank_fixed`; a fixpoint, if
    wanted, is the ``rounds`` → diameter limit.

    Scale: each round is one degree groupBy over the live edge frame
    plus two |V|-sized semi-joins back onto it; the live node frame
    only shrinks, Spark broadcasts it onto the edge scan when |V| ≪
    |E|, and :func:`session.stage` cuts lineage per round so the plan
    stays constant-depth (the connected_groups / pagerank_fixed
    discipline).  No step is quadratic: peel work is O(rounds · |E|).

    Output: (node, layer) for EVERY node of the canonical graph —
    layer ∈ [1, rounds] = peel round, rounds + 1 = survived the cascade.
    """
    e = _canonical_undirected(edges, src_col, dst_col)
    return kcore_peel_layers_from(e, k_offset=k_offset, rounds=rounds)


def kcore_peel_layers_from(
    e: DataFrame, k_offset: int = -25, rounds: int = 4
) -> DataFrame:
    """Run the :func:`kcore_peel_layers` cascade on a PRE-canonicalized
    (checkpointed) edge frame — the ``triangle_counts_from`` pattern:
    callers holding the session-cached part co-purchase frame skip the
    basket derivation and re-canonicalization entirely.

    Each round's survivor set is the degree frame of the LIVE edges
    filtered at ``k`` directly — degree-frame nodes are by construction
    a subset of the previous survivors (every live edge endpoint
    survived the last cut), so no join against the active set is
    needed; nodes that lost their last edge simply vanish from the
    degree frame and fall into that round's anti-join layer.

    The initial degree frame is checkpointed and serves three uses in
    ONE pass over the edges: the node count, the edge count (Σdeg / 2),
    and round 1's survivor filter."""
    (deg0,) = session.stage(_degree_frame(e))
    n_nodes = deg0.count()
    if n_nodes == 0:  # empty / all-self-loop input: empty layer frame
        return deg0.select(
            "node", F.lit(None).cast("int").alias("layer")
        )
    n_edges = deg0.agg(F.sum("deg")).first()[0] // 2
    k = (2 * n_edges) // n_nodes + k_offset

    active = deg0.select("node")
    cur, deg = e, deg0
    layers: list[DataFrame] = []
    for r in range(1, rounds + 1):
        if deg is None:
            deg = _degree_frame(cur)
        (survivors,) = session.stage(deg.filter(F.col("deg") >= k).select("node"))
        deg = None
        peeled = active.join(survivors, "node", "left_anti").select(
            "node", F.lit(r).cast("int").alias("layer")
        )
        layers.append(peeled)
        (cur,) = session.stage(
            cur.join(survivors.select(F.col("node").alias("u")), "u", "left_semi")
            .join(survivors.select(F.col("node").alias("v")), "v", "left_semi")
        )
        active = survivors
    out = layers[0]
    for frame in layers[1:]:
        out = out.unionByName(frame)
    return out.unionByName(
        active.select("node", F.lit(rounds + 1).cast("int").alias("layer"))
    )


def kcore_oracle_sql(
    edges_cte: str, k_offset: int = -25, rounds: int = 4
) -> str:
    """DuckDB rendering of :func:`kcore_peel_layers`: the identical
    canonicalization, data-relative integer threshold, and ``rounds``
    unrolled peel rounds over ``edges_cte`` (a CTE body producing
    (src, dst)).  Every per-round CTE is MATERIALIZED: each level is
    referenced 2-4 times by the next, so DuckDB's default CTE inlining
    would re-evaluate the chain exponentially in ``rounds`` (measured:
    non-terminating at rounds=4 on the sf0.001 graph; instant
    materialized)."""
    q = [f"WITH raw_edges AS ({edges_cte}),"]
    q.append(
        "e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, "
        "GREATEST(src, dst) AS v FROM raw_edges WHERE src <> dst),"
    )
    q.append(
        "d0 AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM "
        "(SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY node),"
    )
    q.append(
        # NULLIF: an empty canonical graph yields k = NULL, every >= k
        # comparison is false, and the layer output is empty — the same
        # contract as the Spark side's empty-input early return
        f"kk AS MATERIALIZED (SELECT (2 * (SELECT COUNT(*) FROM e0)) // "
        f"NULLIF((SELECT COUNT(*) FROM d0), 0) + {k_offset} AS k),"
    )
    q.append("a0 AS MATERIALIZED (SELECT node FROM d0),")
    for r in range(1, rounds + 1):
        p = r - 1
        if r > 1:
            q.append(
                f"d{p} AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM "
                f"(SELECT u AS node FROM e{p} UNION ALL SELECT v FROM e{p}) "
                "GROUP BY node),"
            )
        # survivors come straight off the live degree frame: its nodes
        # are a subset of a{p} (see kcore_peel_layers_from), so no join
        # against the active set — identical to the Spark side.
        q.append(
            f"a{r} AS MATERIALIZED (SELECT node FROM d{p} "
            "CROSS JOIN kk WHERE deg >= kk.k),"
        )
        q.append(
            f"p{r} AS MATERIALIZED (SELECT node, {r} AS layer FROM a{p} "
            f"WHERE node NOT IN (SELECT node FROM a{r})),"
        )
        q.append(
            f"e{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{p} e "
            f"JOIN a{r} x ON e.u = x.node JOIN a{r} y ON e.v = y.node),"
        )
    last = q.pop()
    q.append(last.rstrip(","))
    parts = [f"SELECT node, layer FROM p{r}" for r in range(1, rounds + 1)]
    parts.append(f"SELECT node, {rounds + 1} AS layer FROM a{rounds}")
    q.append("SELECT node, CAST(layer AS INT) AS layer FROM (")
    q.append(" UNION ALL ".join(parts))
    q.append(")")
    return "\n".join(q)


# ---------------------------------------------------------------------------
# Label propagation — fixed-round synchronous community detection.
# ---------------------------------------------------------------------------


def label_propagation_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    FIXED iteration count over an undirected edge list: every node
    starts labelled with its own id; each round EVERY node
    simultaneously adopts the most frequent label among its neighbors,
    ties broken by the SMALLEST label.  Deterministic by construction
    (no sequential update order, no random tie-break), so a DuckDB
    oracle unrolls the identical rounds — the pagerank_fixed /
    kcore_peel_layers discipline; synchronous LPA may oscillate on
    bipartite structure, which a fixed round count simply snapshots.

    Scale: one canonical distinct + a both-directions neighbor frame up
    front; each round is an equi-join of the |V|-sized label frame onto
    the neighbor list (broadcast when |V| ≪ |E|), a map-side-combined
    (node, label) count, and one deterministic max_by argmax — all
    keyed shuffles, lineage cut per round with :func:`session.stage`.

    Output: (node, community) for every node with ≥ 1 edge."""
    e = _canonical_undirected(edges, src_col, dst_col)
    return label_propagation_from(e, iterations)


def label_propagation_from(e: DataFrame, iterations: int = 3) -> DataFrame:
    """Run the :func:`label_propagation_fixed` rounds on a
    PRE-canonicalized (u < v, distinct, checkpoint-backed) edge frame —
    the ``kcore_peel_layers_from`` pattern: callers holding the
    session-cached part co-purchase pair frame skip the basket
    derivation and re-canonicalization entirely.

    The initial label frame is LAZY: it has exactly one consumer (round
    1's join), so checkpointing it would be a pure extra driver barrier
    — the distinct runs inside round 1's checkpoint job instead, same
    executor work, one fewer job."""
    (nbr,) = session.stage(
        e.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionByName(
            e.select(F.col("v").alias("node"), F.col("u").alias("nb"))
        )
    )
    labels = nbr.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(iterations):
        counted = (
            nbr.join(
                labels.select(F.col("node").alias("nb"), "lbl"), "nb"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # deterministic argmax: highest count, then smallest label —
        # the (c, -lbl) struct is unique per node group, so max_by
        # cannot tie
        (labels,) = session.stage(
            counted.groupBy("node").agg(
                F.expr("max_by(lbl, struct(c, -lbl))").alias("lbl")
            )
        )
    return labels.select("node", F.col("lbl").alias("community"))


def label_propagation_oracle_sql(edges_cte: str, iterations: int = 3) -> str:
    """DuckDB rendering of :func:`label_propagation_fixed`: identical
    canonicalization, neighbor symmetrization, and unrolled synchronous
    rounds with the (count DESC, label ASC) argmax.  Per-round CTEs are
    MATERIALIZED (the kcore lesson: inlined CTE chains re-evaluate
    exponentially)."""
    q = [f"WITH raw_edges AS ({edges_cte}),"]
    q.append(
        "ce AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, "
        "GREATEST(src, dst) AS v FROM raw_edges WHERE src <> dst),"
    )
    q.append(
        "nbr AS MATERIALIZED (SELECT u AS node, v AS nb FROM ce "
        "UNION ALL SELECT v, u FROM ce),"
    )
    q.append(
        "l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM nbr),"
    )
    for i in range(iterations):
        q.append(
            f"c{i} AS MATERIALIZED (SELECT n.node, l.lbl, COUNT(*) AS c "
            f"FROM nbr n JOIN l{i} l ON n.nb = l.node GROUP BY n.node, l.lbl),"
        )
        q.append(
            f"l{i + 1} AS MATERIALIZED (SELECT node, lbl FROM ("
            f"SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node "
            f"ORDER BY c DESC, lbl ASC) AS rn FROM c{i}) WHERE rn = 1),"
        )
    last = q.pop()
    q.append(last.rstrip(","))
    q.append(f"SELECT node, lbl AS community FROM l{iterations}")
    return "\n".join(q)
