"""Embedding clustering — fixed-iteration Lloyd's k-means (SURVEY.md §2.11).

The semantic-clustering scale path for near-dedup and corpus mixing:
MinHash/SimHash (operators/dedup.py) catch lexical duplicates; clustering
over the embedding column groups *semantic* near-duplicates and powers
cluster-balanced sampling.  The reference has no analog (it never looks
inside values — REF/data/AbstractTablePartWorker.java:74-83 copies
opaque objects); this is a driver-mandated extension operator.

Determinism contract (what makes the DuckDB oracle exact):

* seeds: the K rows with the smallest id — no RNG anywhere;
* iterations: a FIXED count (no data-dependent convergence test), so
  the oracle unrolls the same number of assign/update rounds;
* distances: squared L2 folded left-to-right over doubles
  (``F.aggregate`` ≡ DuckDB ``list_reduce`` — both start from the first
  element, IEEE-identical);
* centroid update: per-dimension mean routed through DECIMAL(28,12)
  sums (order-independent) before one double division.

Scale design: centroids are K rows (metadata-sized) and are BROADCAST to
every assignment; each point scores K candidates map-side, and the
arg-min collapses via ``min(struct(dist, cluster))`` with map-side
partial aggregation — the shuffle carries one 16-byte row per point.
The centroid update explodes dimensions but reduces to K×dims rows with
map-side combine.  No driver collect, no cross join wider than K.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark import session

#: Cluster count and Lloyd iteration count — FIXED so the oracle can
#: unroll the same computation (see module docstring).
KMEANS_K = 4
KMEANS_ITERS = 2

#: SemDedup cluster count — more clusters than the profiling k-means so
#: the cluster genuinely plays the LSH-bucket role (pair work Σ|c|²);
#: at real corpus scale K grows with N so clusters stay executor-sized.
SEMDEDUP_K = 8

#: SemDedup cosine threshold — fixture embeddings are near-orthogonal
#: random vectors (max pairwise cosine ≈ 0.48), so the corpus-entry
#: threshold sits where a small non-trivial set prunes; production
#: SemDedup runs ~0.95+ on real embedding geometry.
SEMDEDUP_THRESHOLD = 0.35

#: Decimal type for order-independent centroid sums.
_DEC = "decimal(28,12)"


def _sq_dist(vec_col: F.Column, cent_col: F.Column) -> F.Column:
    """Squared L2 distance, left-to-right double fold (oracle-exact).

    ``t*t`` instead of ``pow(t, 2)`` — pow is not guaranteed to be an
    exact multiply on every libm; ``*`` is the same IEEE op everywhere.
    """
    terms = F.zip_with(
        vec_col,
        cent_col,
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


def seed_centroids(
    emb: DataFrame, k: int = KMEANS_K, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Initial centroids: the K smallest ids, cluster = seed id.

    Deterministic and rank-free — no sampling, no RNG, no global sort
    (``id < k`` is a pushed-down filter, not a top-k)."""
    return emb.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("long").alias("cluster"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
    )


def assign_clusters(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: (id, cluster, sq_dist).

    Broadcast K centroid rows; per-point arg-min via
    ``min(struct(sq_dist, cluster))`` — lexicographic struct min gives
    the distance tie to the smaller cluster id, and the groupBy combines
    map-side so the shuffle is one row per point."""
    scored = (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(centroids))
        .select(
            F.col(id_col),
            F.col("cluster"),
            _sq_dist(F.col(vec_col), F.col("cvec")).alias("sq_dist"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct("sq_dist", "cluster")).alias("__b")
    )
    return best.select(
        F.col(id_col),
        F.col("__b.cluster").alias("cluster"),
        F.col("__b.sq_dist").alias("sq_dist"),
    )


def update_centroids(
    emb: DataFrame,
    assignment: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension mean of each cluster's members → new centroid rows.

    DECIMAL(28,12) sums are exact and order-independent (double sums are
    not), then ONE double division by the exact member count.  Clusters
    that lose every member simply drop out (inner join) — the oracle's
    joins behave identically."""
    pts = (
        emb.join(assignment.select(id_col, "cluster"), id_col)
        .select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "val"))
    )
    dims = pts.groupBy("cluster", "pos").agg(
        (
            F.sum(F.col("val").cast("double").cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("cval")
    )
    return dims.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s["cval"],
        ).alias("cvec")
    )


def kmeans_fixed(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd's k-means over an embedding column.

    Returns the FINAL assignment: (id, cluster, sq_dist rounded to 6).
    ``iters`` assignment rounds with ``iters - 1`` centroid updates in
    between — exactly the computation the unrolled oracle CTE performs.
    """
    cents = seed_centroids(emb, k, id_col, vec_col)
    asg = assign_clusters(emb, cents, id_col, vec_col)
    for _ in range(iters - 1):
        cents = update_centroids(emb, asg, id_col, vec_col)
        asg = assign_clusters(emb, cents, id_col, vec_col)
    return asg.select(
        F.col(id_col),
        F.col("cluster"),
        F.round(F.col("sq_dist"), 6).alias("sq_dist"),
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = SEMDEDUP_K,
    iters: int = KMEANS_ITERS,
    threshold: float = SEMDEDUP_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDedup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embeddings with the deterministic fixed-iteration k-means
    above, then prune cosine-near pairs WITHIN each cluster, keeping the
    min id.  Semantic near-duplicates share no n-grams, so the whole
    lexical family (MinHash/SimHash/spans) is blind to them; the cluster
    plays the LSH-bucket role, so pair work is Σ|cluster|² — never N².

    Plan shape: one id-keyed join attaches the assignment to the
    vectors; ONE groupBy(cluster) shuffle packs each cluster's members;
    each cluster scores its own all-pairs block in numpy via the shared
    :func:`dedup.bucket_allpairs_scores` kernel (position-sequential
    fold — bit-identical to the expression/DuckDB form), and the
    min-smaller-id reduction combines map-side.  No driver collect, no
    pair-level join, no corpus-sized broadcast.

    Output: one row per vector — (id, cluster, dup_of, is_kept) where
    dup_of is the smallest same-cluster id with cosine ≥ threshold
    (NULL ⇒ kept).  Deterministic end-to-end: seeded k-means, rounded
    cosines, min-id keeper — the DuckDB oracle replays all three.

    The assignment feeds TWO consumers (the cluster packing and the
    final per-id join), so it is checkpointed once instead of running
    k-means twice (the incremental-dedup lesson: multi-consumer stage
    outputs need a materialization point)."""
    from spanner_jdbc_converter_spark.functions.vector import norm
    from spanner_jdbc_converter_spark.operators.dedup import bucket_allpairs_scores

    (asg,) = session.stage(
        kmeans_fixed(emb, k, iters, id_col, vec_col).select(id_col, "cluster")
    )
    members = emb.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        norm(F.col(vec_col)).alias("__nrm"),
    ).join(asg.select(F.col(id_col).alias("__id"), "cluster"), on="__id")
    packed = (
        members.groupBy("cluster")
        .agg(F.collect_list(F.struct("__id", "__vec", "__nrm")).alias("rows"))
        .filter(F.size("rows") >= 2)
    )
    near = (
        bucket_allpairs_scores(packed, threshold)
        .select("id_a", "id_b", F.round(F.col("__raw"), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    dup_of = near.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    return (
        asg.join(dup_of.withColumnRenamed("id_b", id_col), on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.col("dup_of"),
            F.col("dup_of").isNull().alias("is_kept"),
        )
    )


def kcenter_coreset(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Farthest-point-sampling k-center coreset (Gonzalez 1985): seed at
    the min id, then k−1 rounds of "pick the point farthest (squared
    L2) from every chosen center" — the classic 2-approximation whose
    chosen set maximizes coverage diversity; the selection distances
    are the corpus's coverage-radius curve.  Complements SemDedup
    (which REMOVES redundancy) by SELECTING a maximally-spread
    representative subset — coreset seeding for curriculum/eval-set
    design.

    Scale: k fixed driver rounds; each round is one broadcast-literal
    distance map over the remaining points (running min via LEAST — no
    recompute against all centers) plus a top-1 TakeOrdered reduction;
    only k single rows ever reach the driver (planning-scale, the
    delete-boundary precedent).  Distances ride the oracle-exact
    left-fold :func:`_sq_dist`.

    The per-round frame is PERSISTED and the grandparent unpersisted
    once its child is materialized, so round t's top-1 reduction reads
    round t−1's cache — ONE pass over the survivors per round, scans
    linear in k (VERDICT r10 #1: the unpersisted version replayed the
    whole lineage every round, O(k²) source scans — the
    graph.py::pagerank_fixed lineage-cut discipline).  At most two
    survivor snapshots are cached at any moment.  Caching changes no
    values: the expressions are identical, only recomputation is
    avoided.

    Output: (id, center_rank 1..k, mindist — the selection distance,
    0.0 for the seed; raw IEEE doubles, deterministic).  k larger than
    the corpus returns one row per point; an empty corpus returns an
    empty frame."""
    from spanner_jdbc_converter_spark.functions.vector import vec_sql

    def _sq_dist_lit(arr_sql: str) -> F.Column:
        # one-F.expr SQL text of _sq_dist vs a literal center (opt r17):
        # the same (x - c)*(x - c) left fold, literal side pre-double
        return F.expr(
            f"aggregate(zip_with(`{vec_col}`, {arr_sql},"
            f" (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),"
            f" 0.0D, (acc, t) -> acc + t)"
        )

    spark = emb.sparkSession
    schema = f"{id_col} long, center_rank long, mindist double"
    pts = emb.select(F.col(id_col), F.col(vec_col))
    seed = pts.orderBy(F.asc(id_col)).first()
    if seed is None:
        return spark.createDataFrame([], schema)
    centers = [(int(seed[id_col]), 1, 0.0)]
    cur = (
        pts.filter(F.col(id_col) != seed[id_col])
        .withColumn("mind", _sq_dist_lit(vec_sql(seed[vec_col])))
        .persist()
    )
    from spanner_jdbc_converter_spark.session import planning_scale_rounds

    prev: DataFrame | None = None
    try:
        with planning_scale_rounds(spark):
            for t in range(2, k + 1):
                # TakeOrdered touches every partition, so this action fully
                # populates cur's cache — the predecessor is then safe to drop.
                row = cur.orderBy(F.desc("mind"), F.asc(id_col)).first()
                if prev is not None:
                    prev.unpersist()
                    prev = None
                if row is None:
                    break
                centers.append((int(row[id_col]), t, float(row["mind"])))
                prev = cur
                cur = (
                    cur.filter(F.col(id_col) != row[id_col])
                    .withColumn(
                        "mind",
                        F.least(
                            F.col("mind"), _sq_dist_lit(vec_sql(row[vec_col]))
                        ),
                    )
                    .persist()
                )
    finally:
        if prev is not None:
            prev.unpersist()
        cur.unpersist()
    return spark.createDataFrame(centers, schema)


def silhouette_report(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster centroid-silhouette quality report for the fixed
    k-means: for each point, a = squared distance to its OWN (final)
    centroid, b = the minimum over OTHER centroids, s = (b−a)/max(a,b)
    — the scalable centroid variant of the silhouette coefficient
    (point-pairwise silhouette is N² and never runs at corpus scale).
    Mean s per cluster is THE number k (and the embedding space) gets
    judged on: near 1 = tight and separated, near 0 = clusters touch,
    negative = misassigned mass.

    Scale: one broadcast of K centroid rows scores every point against
    all clusters (map-side, the assignment's own shape); a rides the
    final assignment; b is a per-point min with map-side combine.  The
    assignment feeds two consumers (a and the b-join), so it is
    checkpointed once.  Parity: a and b are the
    oracle-exact _sq_dist folds, s is a fixed-order IEEE expression
    rounded at 6, and the per-cluster mean routes through DECIMAL(18,6)
    sums (order-independent) before one division.

    Output: (cluster, n_points, mean_silhouette)."""
    cents = seed_centroids(emb, k, id_col, vec_col)
    asg = assign_clusters(emb, cents, id_col, vec_col)
    for _ in range(iters - 1):
        cents = update_centroids(emb, asg, id_col, vec_col)
        asg = assign_clusters(emb, cents, id_col, vec_col)
    (asg,) = session.stage(asg)
    scored = (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            F.col("cluster"),
            _sq_dist(F.col(vec_col), F.col("cvec")).alias("__sq"),
        )
    )
    own = asg.select(
        F.col(id_col), F.col("cluster").alias("__own"), F.col("sq_dist").alias("__a")
    )
    other = (
        scored.join(own, on=id_col)
        .filter(F.col("cluster") != F.col("__own"))
        .groupBy(id_col)
        .agg(F.min("__sq").alias("__b"))
    )
    sil = F.round(
        F.when(F.greatest("__a", "__b") == 0, F.lit(0.0)).otherwise(
            (F.col("__b") - F.col("__a")) / F.greatest("__a", "__b")
        ),
        6,
    )
    return (
        own.join(other, on=id_col)
        .select(F.col("__own").alias("cluster"), sil.alias("__s"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(
                F.sum(F.col("__s").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
        )
    )


def perceptron_probe(
    emb: DataFrame,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Distributed linear-probe training — the BATCH perceptron
    (Rosenblatt's rule with a full-batch update): w_{t} = w_{t-1} +
    Σ_{misclassified} y·x, misclassified ⇔ y·⟨w_{t-1}, x⟩ ≤ 0, y = ±1
    from the label's parity.  Linear probes are the standard cheap
    check of whether an embedding space SEPARATES a property; the batch
    form (unlike the sequential perceptron) is order-independent and
    therefore both distributable and oracle-replayable.

    Determinism contract (the k-means discipline): per-dimension
    gradient sums route through DECIMAL(28,12) (order-independent),
    margins are the oracle-exact left-to-right dot fold against a
    broadcast LITERAL weight array (only 64 doubles ever reach the
    driver per round — planning-scale), and the misclassified set is
    decided on bit-identical margins.  The oracle unrolls the same
    ``iters`` rounds in SQL.

    Scale: each round is one agg (count) + one map-side-combined
    (dim-keyed) gradient agg over the persisted point frame; nothing
    shuffles wider than 64 rows.  Output: one row per round t =
    1..iters reporting the error BEFORE that round's update (t = 1 is
    all-misclassified by construction: w₀ = 0 gives margin 0), plus a
    final row t = iters+1 under the trained weights —
    (iter, n_mis, error_rate rounded 6)."""
    from spanner_jdbc_converter_spark.functions.vector import dot_sql, vec_sql

    from spanner_jdbc_converter_spark.session import planning_scale_rounds

    spark = emb.sparkSession
    y = F.when(F.col(label_col) % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    pts = emb.select(F.col(vec_col).alias("__x"), y.alias("__y")).persist()
    try:
        w = [0.0] * dim
        rows: list[tuple[int, int, int]] = []
        with planning_scale_rounds(spark):
            for t in range(1, iters + 2):
                # one-F.expr SQL text per round (opt r17): the same
                # margin fold as vector.dot vs the literal weight array
                mis = F.expr(
                    f"(__y * ({dot_sql('__x', vec_sql(w))})) <= 0"
                )
                n_mis, n = pts.agg(
                    F.coalesce(F.sum(mis.cast("long")), F.lit(0)).alias("m"),
                    F.count(F.lit(1)).alias("n"),
                ).first()
                rows.append((t, int(n_mis), int(n)))
                if t > iters:
                    break
                grad = {
                    r["__pos"]: r["__g"]
                    for r in (
                        pts.filter(mis)
                        .select(
                            F.col("__y"),
                            F.posexplode(F.col("__x")).alias("__pos", "__v"),
                        )
                        .groupBy("__pos")
                        .agg(
                            F.sum(
                                (
                                    F.col("__y") * F.col("__v").cast("double")
                                ).cast(_DEC)
                            )
                            .cast("double")
                            .alias("__g")
                        )
                        .collect()
                    )
                }
                w = [w[d] + grad.get(d, 0.0) for d in range(dim)]
    finally:
        pts.unpersist()
    rep = spark.createDataFrame(rows, "iter long, n_mis long, __n long")
    return rep.select(
        "iter",
        "n_mis",
        F.when(F.col("__n") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("n_mis").cast("double") / F.col("__n"), 6))
        .alias("error_rate"),
    )


def vector_dim_profile(
    emb: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension standardization profile of an embedding column —
    mean, standard deviation, and the standardized extremes
    (z = (x−μ)/σ) for every dimension: the feature-preprocessing pass
    (and its audit) run before whitening, quantization-range selection,
    or probe training; a dead dimension shows σ≈0, a heavy-tailed one
    shows |z| extremes far beyond the Gaussian envelope.

    Scale: ONE posexplode pass reduced by a map-side-combined
    64-key aggregate — the corpus never shuffles more than
    (dims × partitions) partial rows.  Parity: the DECIMAL(28,12)
    power-sum ladder (order-independent) for μ/σ, σ rounded at 6
    BEFORE the z divisions (the corpus libm convention), min/max are
    exact comparisons on doubles, and a σ=0 dimension reports z
    extremes of 0.0 instead of a division blow-up.

    Output: (pos 0-based, mean, std, z_min, z_max — all rounded 6)."""
    pts = emb.select(F.posexplode(F.col(vec_col)).alias("pos", "__v")).select(
        "pos", F.col("__v").cast("double").alias("__v")
    )
    agg = pts.groupBy("pos").agg(
        (
            F.sum(F.col("__v").cast(_DEC)).cast("double") / F.count(F.lit(1))
        ).alias("__mean"),
        (
            F.sum((F.col("__v") * F.col("__v")).cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("__m2"),
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
    )
    # Clamp the variance at zero before the sqrt: for a near-constant
    # (dead) dimension the DECIMAL(28,12) rounding of v*v can leave
    # m2 − mean² a tiny NEGATIVE double, which sqrt turns into NaN in
    # Spark (and an error in DuckDB) — and the std==0 guard below never
    # fires on NaN.  The dead-dimension case is exactly this operator's
    # advertised use, so the clamp is part of the contract (oracle SQL
    # applies the same GREATEST(0.0, ...)).
    std6 = F.round(
        F.sqrt(
            F.greatest(
                F.lit(0.0), F.col("__m2") - F.col("__mean") * F.col("__mean")
            )
        ),
        6,
    )
    z = lambda v: F.when(F.col("std") == 0, F.lit(0.0)).otherwise(  # noqa: E731
        F.round((v - F.col("__mean")) / F.col("std"), 6)
    )
    return (
        agg.withColumn("std", std6)
        .select(
            F.col("pos").cast("long").alias("pos"),
            F.round(F.col("__mean"), 6).alias("mean"),
            F.col("std"),
            z(F.col("__lo")).alias("z_min"),
            z(F.col("__hi")).alias("z_max"),
        )
    )


#: Power-iteration defaults: 3 matvec+normalize rounds from the exact
#: binary seed 1/8 per coordinate (unit norm at dim 64).
PC1_ITERS = 3


def power_iteration_pc1(
    emb: DataFrame,
    iters: int = PC1_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Leading principal component of the (centered) embedding matrix by
    fixed-iteration power iteration — the dimensionality-reduction /
    spectral-audit primitive (dominant variance direction, whitening
    axis, anisotropy check) that runs BEFORE any PCA-based projection.

    Determinism contract (how an iterative float algorithm stays
    oracle-exact): the per-dimension means use the DECIMAL(28,12)
    power-sum ladder; the seed v0 = 1/8 per coordinate is an exact
    binary double; each round computes s_i = fold_d(x_id·v_d) − c with
    c = fold_d(μ_d·v_d) (centering via the precomputed constant, NOT a
    fold of differences — the order is part of the contract), divides
    s_i by N once, and reduces w_d = Σ_i (s_i/N)·(x_id − μ_d) through
    DECIMAL-quantized products (order-free sums); normalization and the
    Rayleigh quotient are left folds over d.  Every float op is the
    same IEEE op in the same order on both engines, so the oracle
    unrolls the identical recurrence (no sign/convergence ambiguity —
    the iteration count is FIXED and the seed is constant).

    Scale shape: the current v rides as 64 literal doubles (the
    perceptron/k-center planning-scale discipline — 64 doubles to the
    driver per round, never a collected matrix); each round is ONE
    corpus scan (projection is a map-side fold, the update is one
    posexplode reduced by a map-side-combined 64-key aggregate); the
    corpus never shuffles more than (dims × partitions) partial rows.
    At 100 TB the same plan holds — rounds are O(scan), state is O(dim).

    Output: one row per dimension — (pos, mu, pc1, eigval, n_vecs);
    eigval is the Rayleigh quotient v·w of the LAST round (the variance
    along pc1, already /N), constant across rows.  Empty input returns
    an empty frame; a zero matvec (single point / all-constant corpus)
    reports pc1 = 0.0 per dimension with eigval 0.0."""
    from spanner_jdbc_converter_spark.session import planning_scale_rounds

    spark = emb.sparkSession
    out_schema = (
        "pos long, mu double, pc1 double, eigval double, n_vecs long"
    )
    x = emb.select(F.col(vec_col).alias("__x")).persist()
    try:
        with planning_scale_rounds(spark):
            stats = (
                x.select(F.posexplode(F.col("__x")).alias("pos", "__v"))
                .select("pos", F.col("__v").cast("double").alias("__v"))
                .groupBy("pos")
                .agg(
                    (
                        F.sum(F.col("__v").cast(_DEC)).cast("double")
                        / F.count(F.lit(1))
                    ).alias("mu"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            if not stats:
                return spark.createDataFrame([], out_schema)
            mu = [0.0] * dim
            n = 0
            for r in stats:
                mu[int(r["pos"])] = float(r["mu"])
                n = int(r["n"])
            v, eigval = _pi_rounds(x, mu, n, iters, dim)
    finally:
        x.unpersist()
    out = spark.createDataFrame(
        [(d, mu[d], v[d], eigval, n) for d in range(dim)], out_schema
    )
    return out.select(
        "pos",
        F.round("mu", 6).alias("mu"),
        F.round("pc1", 6).alias("pc1"),
        F.round("eigval", 6).alias("eigval"),
        "n_vecs",
    )


def _fold_sql(arr_sql: str) -> str:
    """SQL text of the matvec fold over the persisted ``__x`` column —
    the identical left-to-right zip_with/aggregate tree as the Column
    form it replaced (a is cast, the literal side is already double)."""
    return (
        f"aggregate(zip_with(__x, {arr_sql}, (a, b) -> CAST(a AS DOUBLE)"
        f" * b), 0.0D, (acc, t) -> acc + t)"
    )


def _pi_rounds(
    x: DataFrame,
    mu: list,
    n: int,
    iters: int,
    dim: int,
    v1: list | None = None,
) -> tuple[list, float]:
    """Shared power-iteration loop over a persisted single-column frame
    ``x`` (column __x): returns (unit direction, Rayleigh eigenvalue).
    With ``v1`` given, every matvec runs against the DEFLATED matrix
    X' = Xc(I − v1·v1ᵀ), so the loop converges to the SECOND component
    — same fold-order contracts as :func:`power_iteration_pc1` (which
    see), with the per-row deflation term s_i −= proj1_i·(v1·v) and the
    update term (x_id − μ_d) − proj1_i·v1_d, both order-pinned.

    Expressions are composed as SQL text (optimization r17, guide §7.3):
    each round previously built three 64-literal arrays plus two
    zip_with/aggregate folds through the Column API — hundreds of py4j
    round trips per round made the driver-side BUILD the entry's
    dominant cost (profiled: 6,548 round trips ≈ 5.7 s of the pca2
    build).  The SQL strings parse to the identical Catalyst trees
    (dlit round-trips doubles exactly)."""
    import math

    from spanner_jdbc_converter_spark.functions.vector import dlit, vec_sql

    mu_sql = vec_sql(mu)
    v = [0.125] * dim
    eigval = 0.0
    v1_sql = vec_sql(v1) if v1 is not None else None
    c1 = 0.0
    if v1 is not None:
        for d in range(dim):
            c1 = c1 + mu[d] * v1[d]
    for _ in range(iters):
        c = 0.0
        for d in range(dim):
            c = c + mu[d] * v[d]
        v_sql = vec_sql(v)

        s_sql = f"({_fold_sql(v_sql)}) - {dlit(c)}"
        cols = [
            F.expr(f"(({s_sql})) / {dlit(float(n))}").alias("__s"),
            F.col("__x"),
        ]
        if v1 is not None:
            dconst = 0.0
            for d in range(dim):
                dconst = dconst + v1[d] * v[d]
            proj1_sql = f"({_fold_sql(v1_sql)}) - {dlit(c1)}"
            cols = [
                F.expr(
                    f"(({s_sql}) - ({proj1_sql}) * {dlit(dconst)})"
                    f" / {dlit(float(n))}"
                ).alias("__s"),
                F.expr(proj1_sql).alias("__p1"),
                F.col("__x"),
            ]
        centered_sql = (
            f"CAST(__v AS DOUBLE) - element_at({mu_sql}, pos + 1)"
        )
        if v1 is not None:
            centered_sql = (
                f"({centered_sql}) - __p1 * element_at({v1_sql}, pos + 1)"
            )
        base = x.select(*cols).select(
            "__s",
            *([F.col("__p1")] if v1 is not None else []),
            F.posexplode(F.col("__x")).alias("pos", "__v"),
        )
        upd = (
            base.select(
                "pos", F.expr(f"__s * ({centered_sql})").alias("__t")
            )
            .groupBy("pos")
            .agg(F.sum(F.col("__t").cast(_DEC)).cast("double").alias("w"))
        )
        rows = upd.collect()
        w = [0.0] * dim
        for r in rows:
            w[int(r["pos"])] = float(r["w"])
        eigval = 0.0
        for d in range(dim):
            eigval = eigval + v[d] * w[d]
        nrm2 = 0.0
        for d in range(dim):
            nrm2 = nrm2 + w[d] * w[d]
        if nrm2 == 0.0:
            return [0.0] * dim, 0.0
        nrm = math.sqrt(nrm2)
        v = [w[d] / nrm for d in range(dim)]
    return v, eigval


def _centered_pi2(
    x: DataFrame,
    iters: int,
    dim: int,
) -> tuple[list, int, list, float, list, float] | None:
    """The ONE centering + two-direction power-iteration chain both
    pca2 surfaces consume (review r17 — previously duplicated verbatim,
    and these folds are oracle-pinned, so a tweak applied to one copy
    silently broke the other's parity): the posexplode DECIMAL-mean
    per-position stats on a persisted ``__x`` frame, then v1 and the
    deflated v2 via :func:`_pi_rounds`.  Returns (mu, n, v1, eig1, v2,
    eig2), or None on empty input."""
    from spanner_jdbc_converter_spark.session import planning_scale_rounds

    with planning_scale_rounds(x.sparkSession):
        stats = (
            x.select(F.posexplode(F.col("__x")).alias("pos", "__v"))
            .select("pos", F.col("__v").cast("double").alias("__v"))
            .groupBy("pos")
            .agg(
                (
                    F.sum(F.col("__v").cast(_DEC)).cast("double")
                    / F.count(F.lit(1))
                ).alias("mu"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        if not stats:
            return None
        mu = [0.0] * dim
        n = 0
        for r in stats:
            mu[int(r["pos"])] = float(r["mu"])
            n = int(r["n"])
        v1, eig1 = _pi_rounds(x, mu, n, iters, dim)
        v2, eig2 = _pi_rounds(x, mu, n, iters, dim, v1=v1)
    return mu, n, v1, eig1, v2, eig2


def pca2_coords(
    emb: DataFrame,
    iters: int = PC1_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-document 2-D PCA projection: coordinates along the top two
    principal components of the centered embedding matrix — the
    dimensionality-reduction feature pass (corpus maps, drift
    visualization, coarse binning) built on :func:`power_iteration_pc1`'s
    recurrence plus one DEFLATION round chain for the second component
    (v2 power-iterates against X' = Xc(I − v1·v1ᵀ), so it converges to
    the dominant direction orthogonal to v1).

    Determinism: both directions use the PC1 fold-order contracts; the
    deflation adds one per-row projection fold and two driver-side
    constants per round, each order-pinned, so the oracle unrolls both
    chains exactly.  Coordinates are (x−μ)·v_k folds rounded at 6.

    Scale: 2·iters corpus scans (one per matvec round) + one projection
    scan, every round a map-side fold + 64-key DECIMAL aggregate; the
    directions ride as literals.  The returned projection is
    MATERIALIZED (stats-reset localCheckpoint — 4 doubles per doc, one
    job) so the persisted input unpersists before returning: no frame
    the caller holds ever re-reads the cache, interleaved calls
    (out1 = pca2_coords(A); out2 = pca2_coords(B); consume out1) are
    safe, and nothing stays pinned in executor memory between calls —
    the deferred-eviction global this replaces recomputed out1 from
    source in exactly that interleaving (ADVICE r13).  Output:
    (vec_id, pc1_coord, pc2_coord, eig1, eig2)."""
    spark = emb.sparkSession
    out_schema = (
        "vec_id long, pc1_coord double, pc2_coord double,"
        " eig1 double, eig2 double"
    )
    x = emb.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__x")
    ).persist()
    try:
        res = _centered_pi2(x, iters, dim)
        if res is None:
            return spark.createDataFrame([], out_schema)
        mu, _n, v1, eig1, v2, eig2 = res

        def proj(vk: list) -> F.Column:
            # one-F.expr SQL text — the identical fold, see _pi_rounds
            from spanner_jdbc_converter_spark.functions.vector import dlit, vec_sql

            ck = 0.0
            for d in range(dim):
                ck = ck + mu[d] * vk[d]
            return F.expr(f"({_fold_sql(vec_sql(vk))}) - {dlit(ck)}")

        return session.stats_reset_checkpoint(
            x.select(
                F.col("__id").alias("vec_id"),
                F.round(proj(v1), 6).alias("pc1_coord"),
                F.round(proj(v2), 6).alias("pc2_coord"),
                F.round(F.lit(eig1), 6).alias("eig1"),
                F.round(F.lit(eig2), 6).alias("eig2"),
            )
        )
    finally:
        x.unpersist()


def pca2_directions(
    emb: DataFrame,
    iters: int = PC1_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
) -> tuple[list, list]:
    """(v1, v2) — the top two principal directions as driver-side
    double lists, the MODEL form of :func:`pca2_coords` for callers
    that consume the vectors rather than the per-row projection (the
    OPQ-lite rotation, operators/similarity.py::opq_rotation).  Same
    recurrence, same fold-order contracts, so the pca2 oracle CTEs
    replay these exact doubles.  Empty input returns ([], [])."""
    x = emb.select(F.col(vec_col).alias("__x")).persist()
    try:
        res = _centered_pi2(x, iters, dim)
    finally:
        x.unpersist()
    if res is None:
        return [], []
    _mu, _n, v1, _eig1, v2, _eig2 = res
    return v1, v2
