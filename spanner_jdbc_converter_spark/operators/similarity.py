"""Similarity search over embedding columns (SURVEY.md §2.11).

Two paths, checked against each other in tests:
* ``cosine_topk`` — brute-force exact top-k: query⨯corpus join, cosine,
  per-query window top-k.  Correctness oracle; O(|Q|·|C|) — fine when
  the query set is small/broadcastable, which is the common "probe"
  shape even at 100 TB corpus scale.
* ``lsh_ann_topk`` — random-hyperplane LSH: 60-bit-hash-derived
  deterministic hyperplanes bucket the corpus; each query searches only
  its bucket (multi-probe over bands).  Sub-linear candidate sets; the
  scale path when the query set is itself huge.

Ranking determinism: scores rounded to 6 digits, ties broken by id —
rank order is reproducible across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark import session
from spanner_jdbc_converter_spark.functions.vector import (
    dlit,
    dot,
    dot_sql,
    norm,
    vec_sql,
)


def _cosine_expr(
    a_vec: str, b_vec: str, a_nrm: str, b_nrm: str
) -> "F.Column":
    """round(dot(a,b)/(‖a‖·‖b‖), 6) over NAMED columns, composed as one
    SQL string (optimization r17 — one py4j round trip instead of ~90;
    the parsed tree is the identical fold, bit-verified)."""
    return F.expr(
        f"round({dot_sql(f'`{a_vec}`', f'`{b_vec}`')}"
        f" / (`{a_nrm}` * `{b_nrm}`), 6)"
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine for every query vector.

    The query side is broadcast (it is the small side by construction);
    the corpus is never shuffled — each partition scores its rows against
    all queries and the window top-k reduces partial results.  Norms are
    precomputed once per side (bit-identical to inline cosine).
    Output: query_id, match_id, cosine, rank (match ≠ query)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(vec_col).alias("query_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("match_vec"),
        norm(vec_col).alias("match_nrm"),
    )
    cos = _cosine_expr("query_vec", "match_vec", "query_nrm", "match_nrm")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_coefficients(seed_tag: str, j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane H_j: coefficient i =
    (md5int('<i>:<seed_tag>:<j>') % 2001 - 1000) / 1000 — the same value
    the expression form md5_long_seeded(lit(f'{seed_tag}:{j}'), i) folds
    to, computed with hashlib so the PLAN carries plain double literals.
    (The expression form put 64 md5 subtrees per plane into the plan;
    constant-folding 2×32×64 of them cost ~45 s of driver time per
    query at 8 tables × 4 planes.)  Reproducible in any engine, no
    stored model."""
    import hashlib

    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{i}:{seed_tag}:{j}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000)
    return out


def hyperplane_sign_key(vec_col, planes: int, dim: int, seed_tag: str = "hp") -> "F.Column":
    """LSH bucket key: sign pattern of <vec, H_j> for j in 0..planes-1.

    The projection is the same left-to-right fold as functions.vector.dot
    so the sign is bit-reproducible against the SQL oracle."""
    signs = []
    for j in range(planes):
        coeffs = F.array(*[F.lit(c) for c in hyperplane_coefficients(seed_tag, j, dim)])
        proj = F.aggregate(
            F.zip_with(vec_col, coeffs, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        signs.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*signs)


def lsh_bucket_keys_pandas(tables: int, planes: int, dim: int, seed_prefix: str = "hp"):
    """Arrow-batched computation of ALL per-table LSH bucket keys in one
    pass: returns a pandas UDF mapping an embedding to the array of
    ``tables`` bucket-key strings (``t<i>:<sign bits>``).

    Bit-identical to the expression form :func:`hyperplane_sign_key`:
    the accumulator loop runs over vector positions (numpy vectorized
    across rows × planes), so every (row, plane) projection folds
    left-to-right exactly like ``aggregate(zip_with(...))`` and
    DuckDB's ``list_sum`` — the sign decisions can't drift.

    Why: array HOFs run interpreted (~1-2 µs/element); tables×planes
    sign projections cost tables·planes·dim interpreted ops per row.
    One Arrow crossing + ``dim`` vectorized ops replaces all of it."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    coeffs = [
        hyperplane_coefficients(f"{seed_prefix}{t}", j, dim)
        for t in range(tables)
        for j in range(planes)
    ]
    H = np.array(coeffs, dtype=np.float64).T  # (dim, tables*planes)
    prefixes = [f"t{t}:" for t in range(tables)]

    def _impl(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        acc = np.zeros((len(V), H.shape[1]))
        for k in range(V.shape[1]):  # position-sequential: exact fold order
            acc = acc + V[:, k : k + 1] * H[k, :]
        bits = np.where(acc >= 0, "1", "0")
        out = [
            [
                prefixes[t] + "".join(row[t * planes : (t + 1) * planes])
                for t in range(len(prefixes))
            ]
            for row in bits
        ]
        return pd.Series(out)

    _impl.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_impl, "array<string>")


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    ``tables`` independent hash tables of ``planes`` hyperplanes each;
    a corpus vector is a candidate if it shares a bucket with the query
    in ANY table (standard L-table construction — single-table sign-LSH
    has ~(1-θ/π)^planes recall, far too low for near-orthogonal data).
    Candidates are scored exactly, deduped, window top-k'ed.

    Cost: corpus exploded ×tables (key strings only — vectors never ride
    the bucket join), candidate set per query ≈ tables × |corpus| /
    2^planes.  Candidate generation and dedup run on bare (query_id,
    match_id) pairs — 16 bytes/row instead of ~1 KB with two 64-float
    vectors — then the embeddings are joined back by id exactly once for
    scoring (the same shape the SQL oracle uses).
    """

    keys_udf = lsh_bucket_keys_pandas(tables, planes, dim)

    def keyed(df: DataFrame, role: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.explode(keys_udf(F.col(vec_col))).alias("bucket"),
        )

    def side(df: DataFrame, role: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(vec_col).alias(f"{role}_vec"),
            norm(vec_col).alias(f"{role}_nrm"),
        )

    candidates = (
        F.broadcast(keyed(queries, "query"))
        .join(keyed(corpus, "match"), on="bucket")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .dropDuplicates(["query_id", "match_id"])
    )
    cos = _cosine_expr("query_vec", "match_vec", "query_nrm", "match_nrm")
    scored = (
        candidates.join(F.broadcast(side(queries, "query")), on="query_id")
        .join(side(corpus, "match"), on="match_id")
        .select("query_id", "match_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    nprobe: int = 3,
    centroid_stride: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF candidate pairs (query_id, match_id) — the coarse-quantizer
    pruning shared by ivf_topk (exact re-rank) and ivfpq_topk (ADC
    re-rank): deterministic sampled centroids (id % stride == 1),
    corpus vectors on their single nearest list, queries probing their
    ``nprobe`` nearest lists; ids only — vectors never ride the list
    join."""
    cents = _ivf_cents(corpus, centroid_stride, vec_col, id_col)
    return (
        F.broadcast(_ivf_assign(queries, cents, "query", nprobe, vec_col, id_col))
        .join(_ivf_assign(corpus, cents, "match", 1, vec_col, id_col), on="cent_id")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .dropDuplicates(["query_id", "match_id"])
    )


def _ivf_cents(corpus, centroid_stride, vec_col, id_col) -> DataFrame:
    """The deterministic sampled coarse centroids (id % stride == 1)."""
    return corpus.filter((F.col(id_col) % centroid_stride) == 1).select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("cent_vec"),
        norm(vec_col).alias("cent_nrm"),
    )


def _ivf_assign(
    df: DataFrame, cents: DataFrame, role: str, rank_limit: int,
    vec_col: str, id_col: str,
) -> DataFrame:
    """(role_id, cent_id): the ``rank_limit`` nearest coarse lists per
    vector — rounded cosine, ties to the smaller centroid id (the
    ivf_topk assignment contract, shared by every IVF-family operator)."""
    base = df.select(
        F.col(id_col).alias(f"{role}_id"),
        F.col(vec_col).alias(f"{role}_vec"),
        norm(vec_col).alias(f"{role}_nrm"),
    )
    cos = _cosine_expr(f"{role}_vec", "cent_vec", f"{role}_nrm", "cent_nrm")
    w = Window.partitionBy(f"{role}_id").orderBy(
        F.desc("__ccos"), F.asc("cent_id")
    )
    return (
        base.crossJoin(F.broadcast(cents))
        .select(f"{role}_id", "cent_id", cos.alias("__ccos"))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= rank_limit)
        .select(f"{role}_id", "cent_id")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    centroid_stride: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via an IVF-style coarse quantizer.

    Centroids are a deterministic data sample (id % stride == 1 — no
    trained model to store or ship); every corpus vector joins the
    inverted list of its single nearest centroid (by rounded cosine,
    ties to the smallest centroid id), and each query probes its
    ``nprobe`` nearest lists.  Candidates are scored exactly and
    window-top-k'ed — same re-ranking discipline as lsh_ann_topk.

    Scale shape: assignment is corpus × broadcast(centroids) — linear
    in |corpus|·K with no corpus shuffle; the candidate join shuffles
    only (id, cent_id) pairs (list-sized buckets, K ≈ |corpus|/stride
    keeps them balanced for uniformly distributed ids); the embeddings
    are joined back by id once for exact scoring."""
    def side(df: DataFrame, role: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(vec_col).alias(f"{role}_vec"),
            norm(vec_col).alias(f"{role}_nrm"),
        )

    candidates = ivf_candidates(
        queries, corpus, nprobe, centroid_stride, vec_col, id_col
    )
    cos = _cosine_expr("query_vec", "match_vec", "query_nrm", "match_nrm")
    scored = (
        candidates.join(F.broadcast(side(queries, "query")), on="query_id")
        .join(side(corpus, "match"), on="match_id")
        .select("query_id", "match_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pairwise_dot_matrix(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """All-pairs dot products (id_a < id_b) — building block for
    embedding dedup / clustering diagnostics; brute force by design."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(dot("va", "vb"), 6).alias("dot"))
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by int8-quantized cosine — the compressed-vector scale path.

    Each side is reduced once to (id, int8 codes, scale, float norm);
    pair scoring is then an exact integer dot product (64 multiply-adds
    on bigints, zero float accumulation) rescaled by the two per-vector
    scales: cos ≈ (qdot · s_a · s_b) / (‖a‖·‖b‖).  At 100 TB the code
    arrays are ~3.5× smaller than float32 vectors — less shuffle, less
    memory bandwidth — and the integer kernel is SIMD-friendly.  Queries
    broadcast; the corpus never shuffles.

    Output: query_id, match_id, qdot (exact int), score, rank.
    All-zero vectors (scale 0) must be excluded by the caller."""
    from spanner_jdbc_converter_spark.functions.vector import (
        int_dot,
        int_dot_sql,
        norm_sql,
        quantize_int8_sql,
        quantize_scale_sql,
    )

    def prep(df: DataFrame, role: str) -> DataFrame:
        # one selectExpr — SQL-text forms of quantize/norm (opt r17)
        s_sql = quantize_scale_sql(f"`{vec_col}`")
        return df.selectExpr(
            f"`{id_col}` AS {role}_id",
            f"{quantize_int8_sql(f'`{vec_col}`', s_sql)} AS {role}_q",
            f"{s_sql} AS {role}_s",
            f"{norm_sql(f'`{vec_col}`')} AS {role}_l2",
        )

    q, c = prep(queries, "query"), prep(corpus, "match")
    qdot = int_dot("query_q", "match_q")
    # multiplication order is part of the contract (oracle mirrors it):
    # double(qdot) * s_q * s_m / (l2_q * l2_m), then round 6
    score = F.expr(
        f"round(CAST({int_dot_sql('query_q', 'match_q')} AS DOUBLE)"
        f" * query_s * match_s / (query_l2 * match_l2), 6)"
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id", qdot.alias("qdot"), score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: Product-quantization defaults: 4 subspaces × 8-code codebooks over the
#: 64-dim fixture embeddings, 2 Lloyd rounds (the kmeans discipline).
PQ_M = 4
PQ_NCODE = 8
PQ_ITERS = 2


def _pq_sub_slice(col, j: int, subdim: int):
    """Contiguous sub-vector j of a dim-d array column."""
    return F.slice(col, j * subdim + 1, subdim)


def _pq_lit_vec(vals):
    return F.array(*[F.lit(v) for v in vals])


def _pq_codes_pandas(books: dict, subdim: int):
    """Arrow-batched PQ encode: one pandas UDF mapping an embedding to
    the array of per-subspace codes (arg-min squared distance against
    the codebook, ties to the smaller cluster).

    Bit-identical to the expression form it replaced (a struct-min over
    per-centroid ``_sq_dist`` folds): the distance accumulator loops
    over sub-vector POSITIONS (numpy vectorized across rows ×
    centroids), so every (row, centroid) distance folds left-to-right
    exactly like ``aggregate(zip_with(...))`` and DuckDB's
    ``list_reduce``; ``np.argmin`` returns the first minimum and the
    codebook rows are sorted by cluster id, so ties break to the
    smaller cluster exactly like the lexicographic struct-min.

    Why: m·ncode interpreted ``_sq_dist`` folds per row — plus the
    Catalyst cost of m·ncode·subdim literal nodes — measured ~14 s of
    the 15.4 s first bench row; one Arrow crossing + subdim vectorized
    ops replaces all of it (the lsh_bucket_keys_pandas lesson)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    subs = sorted(books)
    cents = {
        j: np.array([cv for _, cv in books[j]], dtype=np.float64) for j in subs
    }
    labels = {j: np.array([c for c, _ in books[j]], dtype=np.int64) for j in subs}

    def _impl(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(v.to_numpy()).astype(np.float64)
        out_cols = []
        for j in subs:
            X = V[:, j * subdim : (j + 1) * subdim]
            C = cents[j]
            acc = np.zeros((X.shape[0], C.shape[0]))
            for p in range(subdim):  # position-sequential: exact fold order
                d = X[:, p : p + 1] - C[None, :, p]
                acc = acc + d * d
            idx = np.argmin(acc, axis=1)  # first min = smallest cluster id
            out_cols.append(labels[j][idx])
        out = np.stack(out_cols, axis=1)
        return pd.Series([row.tolist() for row in out])

    _impl.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_impl, "array<long>")


def _pq_code_cols(books: dict, vec_col: str, subdim: int) -> list:
    """Per-subspace code columns extracted from the Arrow-batched encode
    (see :func:`_pq_codes_pandas` for the exactness argument)."""
    codes = _pq_codes_pandas(books, subdim)(F.col(vec_col))
    return [
        F.element_at(codes, i + 1).alias(f"__code{j}")
        for i, j in enumerate(sorted(books))
    ]


def _pq_train(
    corpus: DataFrame,
    m: int,
    ncode: int,
    iters: int,
    dim: int,
    vec_col: str,
    id_col: str,
) -> dict:
    """Per-subspace k-means codebooks as a driver-side dict
    {sub: [(cluster, cvec), ...] sorted} — the PQ model.

    Semantics are the deterministic fixed-iteration k-means (seed = the
    ncode smallest ids' sub-vectors, Lloyd rounds with the
    DECIMAL(28,12)-mean update, arg-min ties to the smaller cluster),
    so the oracle unrolls the identical recurrence per subspace with
    the _kmeans_ctes pattern.  Plan shape per Lloyd round: the current
    centroids ride as LITERALS (m·ncode·dim/m doubles — the
    perceptron/kcenter planning-scale discipline), assignment is a
    map-side arg-min fold, and the update is ONE map-side-combined
    (pos, cluster)-keyed aggregate over ONE corpus scan covering ALL m
    subspaces — never m crossJoin+window chains.  At 100 TB codebooks
    train on a deterministic id-stride sample passed as ``corpus``."""
    subdim = dim // m
    _DEC = "decimal(28,12)"
    seeds = (
        corpus.filter(F.col(id_col) < ncode)
        .select(F.col(id_col).alias("__c"), F.col(vec_col).alias("__v"))
        .collect()
    )
    books: dict = {}
    for r in seeds:
        full = [float(v) for v in r["__v"]]
        for j in range(m):
            books.setdefault(j, []).append(
                (int(r["__c"]), full[j * subdim : (j + 1) * subdim])
            )
    if not books:
        return {}
    for j in books:
        books[j].sort()
    for _ in range(iters - 1):
        code_cols = _pq_code_cols(books, vec_col, subdim)
        pts = corpus.select(
            *code_cols, F.posexplode(F.col(vec_col)).alias("__pos", "__val")
        )
        sub_of_pos = F.floor(F.col("__pos") / subdim).cast("int")
        cluster = F.element_at(
            F.array(*[F.col(f"__code{j}") for j in range(m)]), sub_of_pos + 1
        )
        means = (
            pts.select(
                sub_of_pos.alias("__sub"),
                cluster.alias("__cluster"),
                F.col("__pos"),
                F.col("__val"),
            )
            .groupBy("__sub", "__cluster", "__pos")
            .agg(
                (
                    F.sum(F.col("__val").cast("double").cast(_DEC)).cast("double")
                    / F.count(F.lit(1))
                ).alias("__cval")
            )
            .collect()
        )
        nxt: dict = {}
        acc: dict = {}
        for r in means:
            acc.setdefault((int(r["__sub"]), int(r["__cluster"])), {})[
                int(r["__pos"])
            ] = float(r["__cval"])
        for (j, c), by_pos in acc.items():
            nxt.setdefault(j, []).append((c, [by_pos[p] for p in sorted(by_pos)]))
        for j in nxt:
            nxt[j].sort()
        books = nxt
    return books


def pq_codebooks(
    corpus: DataFrame,
    m: int = PQ_M,
    ncode: int = PQ_NCODE,
    iters: int = PQ_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-subspace PQ codebooks as a (sub, cluster, cvec) frame — the
    persistable model form of :func:`_pq_train` (which see for the
    training semantics and plan shape)."""
    spark = corpus.sparkSession
    books = _pq_train(corpus, m, ncode, iters, dim, vec_col, id_col)
    rows = [
        (j, c, cv) for j in sorted(books) for c, cv in books[j]
    ]
    return spark.createDataFrame(
        rows, "sub long, cluster long, cvec array<double>"
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = PQ_M,
    ncode: int = PQ_NCODE,
    iters: int = PQ_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: dict | None = None,
) -> DataFrame:
    """Top-k by product-quantized cosine with asymmetric distance
    computation (ADC) — the memory-bound production ANN technique
    (Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    Search", PAMI 2011) that int8 scalar quantization approximates
    poorly: each corpus vector is reduced to ``m`` codebook ids (m
    bytes + one float norm vs dim floats), and a query scores a vector
    as cos ≈ (Σ_j LUT_j[code_j]) / (‖q‖·‖x‖), where LUT_j[c] =
    ⟨q_sub_j, centroid_{j,c}⟩ is computed ONCE per query, never per
    pair.

    Scale shape: codebook training is one map-side-combined aggregate
    per Lloyd round with the current centroids riding as literals
    (_pq_train — m·ncode·dim/m doubles per driver round-trip, the
    perceptron/kcenter planning-scale discipline); corpus ENCODING is
    one scan with map-side arg-min folds (no join, no shuffle); the
    LUT is m·ncode literal-dot columns on the (small, broadcast) query
    frame; pair scoring is m map lookups + (m−1) adds per pair — the
    corpus never shuffles and never touches its float vectors after
    encoding.

    Determinism contract: codebook training is the oracle-unrolled
    k-means; encode arg-min is the lexicographic struct-min (ties →
    smaller cluster); LUT dots are the oracle-exact left-to-right fold;
    the ADC sum adds subspaces in fixed order j = 0..m−1; score rounds
    at 6 with ties to the smaller match id.  All-zero vectors (norm 0)
    must be excluded by the caller — the quantized_topk contract.
    ``adot`` surfaces ROUNDED at 6: the codebook means carry a one-ulp
    engine ambiguity (a float32 value whose decimal expansion
    terminates exactly at digit 13 with a 5 — e.g. 0.1983642578125 =
    k/2¹³ — ties DECIMAL(28,12) quantization, HALF_UP on Spark vs
    HALF_EVEN on DuckDB), and the round-at-6 discipline absorbs it,
    exactly as the k-means family's sq_dist outputs do.

    Output: query_id, match_id, adot (ADC dot, rounded 6), score, rank."""
    subdim = dim // m
    if books is None:
        books = _pq_train(corpus, m, ncode, iters, dim, vec_col, id_col)
    spark = queries.sparkSession
    out_schema = (
        "query_id long, match_id long, adot double, score double, rank long"
    )
    if not books:
        return spark.createDataFrame([], out_schema)

    codes = _pq_codes_frame(corpus, books, subdim, vec_col, id_col)
    q = _pq_lut_frame(queries, books, m, subdim, vec_col, id_col)
    scored = (
        F.broadcast(q)
        .crossJoin(codes)
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id", *_pq_adc_cols(m))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _pq_codes_frame(corpus, books, subdim, vec_col, id_col) -> DataFrame:
    """(match_id, match_l2, __code0..m-1) — the encoded corpus."""
    return corpus.select(
        F.col(id_col).alias("match_id"),
        norm(vec_col).alias("match_l2"),
        *_pq_code_cols(books, vec_col, subdim),
    )


def _pq_lut_frame(queries, books, m, subdim, vec_col, id_col) -> DataFrame:
    """(query_id, query_l2, __lut0..m-1) — per-query ADC lookup tables,
    one exact-fold dot per (subspace, code), computed ONCE per query.

    Each lut column is composed as ONE SQL string (optimization r17):
    the Column-API loop cost ~90 py4j round trips per codebook dot —
    m·ncode of them dominated the whole entry's build time.  The parsed
    tree is the identical slice × literal-centroid fold, bit-verified."""
    lut_cols = []
    for j in range(m):
        keys = ",".join(f"CAST({c} AS BIGINT)" for c, _ in books[j])
        slice_sql = f"slice(`{vec_col}`, {j * subdim + 1}, {subdim})"
        vals = ",".join(
            dot_sql(slice_sql, vec_sql(cv)) for _, cv in books[j]
        )
        lut_cols.append(
            F.expr(
                f"map_from_arrays(array({keys}), array({vals}))"
            ).alias(f"__lut{j}")
        )
    return queries.select(
        F.col(id_col).alias("query_id"),
        norm(vec_col).alias("query_l2"),
        *lut_cols,
    )


def _pq_adc_cols(m: int, base: str | None = None) -> list:
    """adot (fixed-order j = 0..m-1 LUT sum, rounded 6) and score.
    With ``base`` given, the sum folds FROM it — (((base + l0) + l1)…)
    — the residual-IVFPQ ⟨q, c_list⟩ anchor term, order-pinned so the
    oracle's left-associative ``+`` chain replays it exactly."""
    terms = " + ".join(f"element_at(__lut{j}, __code{j})" for j in range(m))
    adot = terms if base is None else f"{base} + {terms}"
    return [
        F.expr(f"round({adot}, 6)").alias("adot"),
        F.expr(f"round(({adot}) / (query_l2 * match_l2), 6)").alias("score"),
    ]


def opq_rotation(
    emb: DataFrame,
    m: int = PQ_M,
    dim: int = 64,
    vec_col: str = "embedding",
) -> dict:
    """OPQ-lite rotation model: TWO Householder reflections aligning
    the top two principal directions (power iteration + one deflation
    chain, operators/clustering.py::pca2_directions) to the LEADING
    dimension of subspaces 0 and 1 — the eigenvalue-spreading idea of
    OPQ (Ge/He/Ke/Sun, "Optimized Product Quantization", CVPR 2013)
    with a closed-form rotation instead of the full iterated
    Procrustes solve: an orthogonal transform preserves every dot
    product, so exact cosine ranking is invariant and ONLY the PQ
    quantization error changes; striping the dominant variance
    directions across different subspaces is what the codebooks can
    exploit at equal m/ncode.

    H(x) = x − (2⟨u, x⟩/⟨u, u⟩)·u with u = v + sign(v[s])·e_s (the
    numerically-safe Householder that maps v → ∓e_s); u2 builds from
    H1(v2) so the second reflection leaves the first aligned axis
    fixed up to v2's residual v1-component.  Every fold is the
    left-to-right order shared with DuckDB's list_reduce, so the
    oracle rebuilds the identical u vectors from its own pca2 chains.

    Returns {} on an empty corpus; otherwise {u1, u1sq, u2, u2sq} —
    4·dim doubles, riding as plan literals (the perceptron/k-center
    planning-scale discipline; the corpus is never shuffled)."""
    from spanner_jdbc_converter_spark.operators import clustering as cl

    v1, v2 = cl.pca2_directions(emb, dim=dim, vec_col=vec_col)
    if not v1:
        return {}
    subdim = dim // m

    def householder_u(v: list, s: int) -> tuple[list, float]:
        sign = 1.0 if v[s] >= 0 else -1.0
        u = [v[d] + (sign if d == s else 0.0) for d in range(dim)]
        usq = 0.0
        for d in range(dim):
            usq = usq + u[d] * u[d]
        return u, usq

    def apply_h(u: list, usq: float, x: list) -> list:
        t = 0.0
        for d in range(dim):
            t = t + u[d] * x[d]
        c = (2.0 * t) / usq
        return [x[d] - c * u[d] for d in range(dim)]

    u1, u1sq = householder_u(v1, 0)
    v2r = apply_h(u1, u1sq, v2)
    u2, u2sq = householder_u(v2r, subdim)
    return {"u1": u1, "u1sq": u1sq, "u2": u2, "u2sq": u2sq}


def opq_rotated(
    df: DataFrame, vec_col: str, rot: dict, out_col: str = "__rot"
) -> DataFrame:
    """Attach the rotated vector as ``out_col``: two chained Householder
    applications, each ONE left-fold dot against a literal u plus a
    zip_with — no UDF, no shuffle, the rotation rides as 4·dim literal
    doubles.

    DataFrame-level (review r17) so each step's scalar coefficient c =
    2⟨x, u⟩/‖u‖² is HOISTED into its own projection: embedded in the
    zip_with lambda it re-evaluates once per OUTPUT ELEMENT (higher-
    order-function lambdas are interpreted, no cross-element CSE) —
    ~2·dim² instead of ~2·dim multiplications per row, measured 68 s →
    1.6 s over the sf0.1 corpus.  Catalyst keeps the intermediate
    column as a separate Project (verified on the optimized plan)."""
    # SQL-text composition (opt r17): the two u-vector literals cost
    # ~600 py4j round trips via per-element F.lit; each step is now two
    # one-round-trip exprs with the identical parsed tree.
    df = df.withColumn(
        out_col, F.expr(f"transform(`{vec_col}`, a -> CAST(a AS DOUBLE))")
    )
    for i, (u, usq) in enumerate(
        ((rot["u1"], rot["u1sq"]), (rot["u2"], rot["u2sq"]))
    ):
        u_sql = vec_sql(u)
        cname = f"__opq_c{i}"
        df = df.withColumn(
            cname,
            F.expr(f"(2.0D * {dot_sql(f'`{out_col}`', u_sql)}) / {dlit(usq)}"),
        )
        df = df.withColumn(
            out_col,
            F.expr(f"zip_with(`{out_col}`, {u_sql}, (a, b) -> a - {cname} * b)"),
        ).drop(cname)
    return df


def opq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = PQ_M,
    ncode: int = PQ_NCODE,
    iters: int = PQ_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rot: dict | None = None,
    books: dict | None = None,
) -> DataFrame:
    """Top-k by OPQ-lite product quantization: :func:`pq_topk` run in
    the rotated basis — identical m/ncode/iters, so the recall delta
    vs the plain 'pq' row is purely what the rotation buys (VERDICT
    r16 "What's missing #3").  The codebooks train on the ROTATED
    corpus; queries build their LUTs from rotated sub-vectors; ADC
    scoring, rounding, and tie-breaks are the pq_topk contract
    verbatim.  ``rot`` defaults to :func:`opq_rotation` learned on
    ``corpus``; pass the session-cached model (plans/etl.py) to skip
    the power-iteration collects."""
    if rot is None:
        rot = opq_rotation(corpus, m, dim, vec_col)
    if not rot:
        return pq_topk(
            queries, corpus, k, m, ncode, iters, dim, vec_col, id_col, books
        )
    q_r = opq_rotated(queries, vec_col, rot)
    c_r = opq_rotated(corpus, vec_col, rot)
    return pq_topk(q_r, c_r, k, m, ncode, iters, dim, "__rot", id_col, books)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    centroid_stride: int = 100,
    m: int = PQ_M,
    ncode: int = PQ_NCODE,
    iters: int = PQ_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: dict | None = None,
) -> DataFrame:
    """IVF + PQ — the production ANN pairing (Jégou et al. 2011 §V):
    the coarse quantizer PRUNES (each query scores only its ``nprobe``
    inverted lists instead of the whole corpus) and product quantization
    COMPRESSES (candidates are scored from m codebook ids via the
    query's lookup tables, never from the float vectors).  ivf_topk
    re-ranks its candidates exactly; pq_topk scores everything — this
    operator composes the candidate set of the former with the ADC
    scoring of the latter, so both error sources (list pruning, code
    quantization) are measured by their own entries and combine here.

    Plan shape: candidate generation is the shared :func:`ivf_candidates`
    (ids only); the encoded corpus joins candidates by match_id; the
    LUT-carrying query frame broadcasts onto the candidate stream; the
    only shuffles carry id pairs and the per-query rank.  Codes are
    non-residual (trained on the raw vectors, shared with pq_topk via
    ``books``) — :func:`residual_ivfpq_topk` is the residual
    refinement, measured beside this one in ann_recall_report.

    Determinism: candidates replay ivf_topk's rounded-cosine/ties
    contract; scoring replays pq_topk's fixed-order ADC contract; both
    oracle-unrolled.  Zero-norm vectors must be excluded by the caller
    (the pq_topk contract — centroids with zero norm would NaN the
    coarse cosine)."""
    subdim = dim // m
    if books is None:
        books = _pq_train(corpus, m, ncode, iters, dim, vec_col, id_col)
    spark = queries.sparkSession
    out_schema = (
        "query_id long, match_id long, adot double, score double, rank long"
    )
    if not books:
        return spark.createDataFrame([], out_schema)

    cand = ivf_candidates(
        queries, corpus, nprobe, centroid_stride, vec_col, id_col
    )
    codes = _pq_codes_frame(corpus, books, subdim, vec_col, id_col)
    q = _pq_lut_frame(queries, books, m, subdim, vec_col, id_col)
    scored = (
        cand.join(codes, "match_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "match_id", *_pq_adc_cols(m))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _residual_frame(
    corpus: DataFrame, cents: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """(match_id, cent_id, __xv raw vector, __res = x − c_list): every
    corpus vector minus its single nearest coarse centroid — exact
    per-position double subtraction of float32-exact values, so the
    oracle replays it bit-for-bit."""
    corp = _ivf_assign(corpus, cents, "match", 1, vec_col, id_col)
    return (
        corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__xv"))
        .join(corp, "match_id")
        .join(F.broadcast(cents.select("cent_id", "cent_vec")), "cent_id")
        .select(
            "match_id",
            "cent_id",
            "__xv",
            F.expr(
                "zip_with(__xv, cent_vec, (a, b) -> CAST(a AS DOUBLE)"
                " - CAST(b AS DOUBLE))"
            ).alias("__res"),
        )
    )


def residual_pq_train(
    corpus: DataFrame,
    centroid_stride: int = 100,
    m: int = PQ_M,
    ncode: int = PQ_NCODE,
    iters: int = PQ_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Residual PQ codebooks: the _pq_train recurrence run on the
    RESIDUALS x − centroid(list) instead of the raw vectors — the
    distribution PQ should model once a coarse quantizer exists,
    because residuals concentrate near zero with far less variance
    than raw vectors (Jégou et al. 2011 §V.A)."""
    cents = _ivf_cents(corpus, centroid_stride, vec_col, id_col)
    res = _residual_frame(corpus, cents, vec_col, id_col)
    return _pq_train(res, m, ncode, iters, dim, "__res", "match_id")


def residual_ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    centroid_stride: int = 100,
    m: int = PQ_M,
    ncode: int = PQ_NCODE,
    iters: int = PQ_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: dict | None = None,
) -> DataFrame:
    """Residual IVF + PQ — the ACCURATE form of the production pairing
    (Jégou et al. 2011 §V.A, the refinement ivfpq_topk documents as its
    next step): corpus vectors are PQ-encoded as residuals r = x −
    c_list against their coarse centroid, and a query scores a
    candidate as ⟨q, x⟩ ≈ ⟨q, c_list⟩ + Σ_j LUT_j[code_j] with
    LUT_j[c] = ⟨q_sub_j, rcentroid_{j,c}⟩ — the anchor term restores
    the list's position so the codebooks only have to model the small
    residual cloud, which is what makes IVF+PQ accurate at production
    nprobe.  The premise — residuals smaller than raw vectors — holds
    exactly when the coarse quantizer captures real structure: on a
    clustered corpus the residual row of ann_recall_report measures at
    or above the non-residual row at equal m/ncode (pinned by
    test_operators), while on an ISOTROPIC corpus (the synthetic
    fixture) E‖x−c‖² = 2−2·maxcos ≈ 1.7·E‖x‖², so residual honestly
    measures BELOW non-residual there — the report exists to surface
    exactly that regime dependence.

    Plan shape: coarse assignment is corpus × broadcast(centroids)
    (shared _ivf_assign); the residual encode is one Arrow-batched scan
    of the residual frame; the scoring join is encoded-corpus ⋈
    broadcast(query-side) ON cent_id — each corpus row sits in exactly
    ONE list, so the cent_id equi-join IS the IVF candidate semantics
    with no separate pair join and no duplicate pairs; the only
    shuffles carry id-keyed rows and the per-query rank.

    Determinism: assignment replays ivf_topk's rounded-cosine/ties
    contract; residuals are exact double subtractions; training/encode
    replay the _pq_train recurrence on the residual frame; the ADC sum
    folds FROM the ⟨q, c_list⟩ anchor in fixed order j = 0..m−1
    (_pq_adc_cols(base=...)); adot/score round at 6, ties to the
    smaller match id.  Zero-norm vectors must be excluded by the
    caller (the pq_topk contract).

    Output: query_id, match_id, adot (anchored ADC dot, rounded 6),
    score, rank."""
    subdim = dim // m
    spark = queries.sparkSession
    out_schema = (
        "query_id long, match_id long, adot double, score double, rank long"
    )
    cents = _ivf_cents(corpus, centroid_stride, vec_col, id_col)
    res = _residual_frame(corpus, cents, vec_col, id_col)
    if books is None:
        books = _pq_train(res, m, ncode, iters, dim, "__res", "match_id")
    if not books:
        return spark.createDataFrame([], out_schema)

    codes = res.select(
        "match_id",
        "cent_id",
        norm("__xv").alias("match_l2"),
        *_pq_code_cols(books, "__res", subdim),
    )
    probes = _ivf_assign(queries, cents, "query", nprobe, vec_col, id_col)
    qside = (
        probes.join(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
            ),
            "query_id",
        )
        .join(F.broadcast(cents.select("cent_id", "cent_vec")), "cent_id")
        .select(
            "query_id",
            "cent_id",
            dot("__qv", "cent_vec").alias("__qcdot"),
        )
        .join(_pq_lut_frame(queries, books, m, subdim, vec_col, id_col), "query_id")
    )
    scored = (
        codes.join(F.broadcast(qside), "cent_id")
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id", "match_id", *_pq_adc_cols(m, base="__qcdot")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


#: Refine depth: the ADC top-N re-scored exactly.  FAISS IndexRefine's
#: default shape — N a small multiple of k, so the exact re-score touches
#: a candidate set, never the corpus.
REFINE_N = 50


def ivfpq_refine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    refine_n: int = REFINE_N,
    nprobe: int = 3,
    centroid_stride: int = 100,
    m: int = PQ_M,
    ncode: int = PQ_NCODE,
    iters: int = PQ_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: dict | None = None,
) -> DataFrame:
    """IVF+PQ with an exact re-rank stage — the production "refine"
    composition (FAISS IndexRefine; VERDICT r15 "What's missing #2"):
    the ADC scan is cheap but quantized, so every serious deployment
    re-scores its top-``refine_n`` candidates with exact dot products
    to recover the last recall points at candidate-set cost.

    Plan shape: stage 1 is :func:`ivfpq_topk` at k=refine_n (corpus
    scanned exactly as that entry does — coarse assignment + one code
    scan, queries broadcast); stage 2 joins the |Q|·refine_n candidate
    ids BACK to the corpus vectors by BROADCASTING the candidate set
    onto the corpus scan (the corpus is never shuffled — the broadcast
    hash join filters it in place), broadcasts the norm-carrying query
    frame, and re-scores with the exact rounded cosine (the cosine_topk
    contract: ROUND 6, ties to the smaller match_id).  The only
    exchange after the ADC stage carries |Q|·refine_n scored rows into
    the final rank window.

    Output: (query_id, match_id, cosine, rank) — exact cosine, so the
    schema matches cosine_topk, making refine's recall directly
    comparable in ann_recall_report's seventh row."""
    cand = ivfpq_topk(
        queries,
        corpus,
        k=refine_n,
        nprobe=nprobe,
        centroid_stride=centroid_stride,
        m=m,
        ncode=ncode,
        iters=iters,
        dim=dim,
        vec_col=vec_col,
        id_col=id_col,
        books=books,
    ).select("query_id", "match_id")
    return exact_rerank(cand, queries, corpus, k, vec_col, id_col)


def residual_refine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    refine_n: int = REFINE_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: dict | None = None,
) -> DataFrame:
    """Residual IVF+PQ with the exact refine stage — the refine matrix
    completed: the anchored residual ADC scan ranks candidates, the
    top-``refine_n`` re-score exactly (:func:`exact_rerank`), same
    candidate-set-cost contract as :func:`ivfpq_refine_topk`."""
    cand = residual_ivfpq_topk(
        queries,
        corpus,
        k=refine_n,
        vec_col=vec_col,
        id_col=id_col,
        books=books,
    ).select("query_id", "match_id")
    return exact_rerank(cand, queries, corpus, k, vec_col, id_col)


def exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact rounded-cosine re-rank of a (query_id, match_id) candidate
    frame — the refine stage on its own, so callers that already hold
    the ADC candidates (ann_recall_report) re-score WITHOUT re-running
    the IVF+PQ corpus scan.  Plan: candidates and the norm-carrying
    query frame broadcast onto the corpus scan; one rank exchange."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(vec_col).alias("query_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("match_vec"),
        norm(vec_col).alias("match_nrm"),
    )
    cos = _cosine_expr("query_vec", "match_vec", "query_nrm", "match_nrm")
    scored = (
        c.join(F.broadcast(cand), "match_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "match_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Top-k nearest OTHER-labeled vectors per query — contrastive
    hard-negative mining: the negatives most likely to confuse a model
    are the most-similar items with a DIFFERENT label, and training on
    them is what makes embedding models sharp (the retrieval-training
    twin of :func:`cosine_topk`).

    Same plan contract as cosine_topk: the query side broadcasts, the
    corpus never shuffles (each partition scores its rows against all
    queries), the label-mismatch filter prunes INSIDE the scoring pass
    before the per-query window top-k reduces partial results.

    Output: (query_id, query_label, match_id, match_label, cosine,
    rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).cast("long").alias("query_label"),
        F.col(vec_col).alias("query_vec"),
        norm(vec_col).alias("query_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(label_col).cast("long").alias("match_label"),
        F.col(vec_col).alias("match_vec"),
        norm(vec_col).alias("match_nrm"),
    )
    cos = _cosine_expr("query_vec", "match_vec", "query_nrm", "match_nrm")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_label") != F.col("match_label"))
        .select(
            "query_id", "query_label", "match_id", "match_label",
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k_candidates: int = 10,
    k_select: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's exact top-``k_candidates`` cosine matches,
    greedily select ``k_select`` trading relevance against redundancy —
    score(c) = 0.7·rel(c) − 0.3·max_{s∈selected} sim(c, s), ties by
    min id — the diversity-aware context selection a RAG / few-shot
    training pipeline runs so near-duplicate passages don't crowd a
    context window.

    Scale: candidate recall is :func:`cosine_topk`'s contract (queries
    broadcast, corpus scored in place, window top-k); the greedy walk
    is inherently sequential PER QUERY over only k_candidates rows —
    one tiny Arrow group per query, parallel across queries.  The
    kernel's dots are explicit left-to-right folds over
    double-upcast float32 elements, bit-identical to the SQL oracle's
    list_sum fold; relevance and pairwise sims round at 6, then the
    7:3 blend runs in EXACT integer micro-units (6-dp inputs blended
    7:3 land precisely on 7th-decimal .5 boundaries where double
    rounding diverges between engines) and the score emerges as the
    exact division score_int / 1e7.

    Output: (query_id, match_id, mmr_rank, relevance, mmr_score)."""
    from pyspark.sql import types as T

    cand = cosine_topk(queries, corpus, k_candidates, vec_col, id_col)
    withvec = cand.join(
        corpus.select(
            F.col(id_col).alias("match_id"), F.col(vec_col).alias("mv")
        ),
        on="match_id",
    ).select("query_id", "match_id", "cosine", "mv")

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("match_id", T.LongType()),
            T.StructField("mmr_rank", T.LongType()),
            T.StructField("relevance", T.DoubleType()),
            T.StructField("mmr_score", T.DoubleType()),
        ]
    )

    def _fold_dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    def _round6(x):
        # Spark's ROUND(double, 6): BigDecimal(shortest-repr) HALF_UP —
        # python's round() is banker's and would diverge at .5 ties
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    def _cos(a, b):
        import math

        return _round6(
            _fold_dot(a, b)
            / (math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b)))
        )

    def _greedy(pdf):
        import pandas as pd

        rows = list(
            pdf[["match_id", "cosine", "mv"]].itertuples(index=False)
        )
        rel = {r.match_id: float(r.cosine) for r in rows}
        vec = {r.match_id: r.mv for r in rows}
        qid = int(pdf["query_id"].iloc[0])
        # EXACT integer micro-unit scoring: 6-dp inputs blended 7:3
        # land precisely on 7th-decimal .5 boundaries, where double
        # ROUND diverges between engines — integers never round
        rel6 = {m: int(round(v * 1e6)) for m, v in rel.items()}
        remaining = sorted(rel)
        selected, out = [], []
        while remaining and len(selected) < k_select:
            best, best_score = None, None
            for c in remaining:
                pen6 = max(
                    (
                        int(round(_cos(vec[c], vec[s]) * 1e6))
                        for s in selected
                    ),
                    default=0,
                )
                score = 7 * rel6[c] - 3 * pen6
                if best is None or score > best_score or (
                    score == best_score and c < best
                ):
                    best, best_score = c, score
            selected.append(best)
            remaining.remove(best)
            out.append(
                (qid, best, len(selected), rel[best], best_score / 1e7)
            )
        return pd.DataFrame(
            out,
            columns=[
                "query_id", "match_id", "mmr_rank", "relevance", "mmr_score",
            ],
        )

    from spanner_jdbc_converter_spark.session import session_shuffle_width

    # explicit-width spread before the CPU-bound greedy walk (one
    # exchange — the groupBy reuses the pinned partitioning; opt r17)
    return (
        withvec.repartition(
            session_shuffle_width(withvec.sparkSession), "query_id"
        )
        .groupBy("query_id")
        .applyInPandas(_greedy, schema)
    )


def ann_recall_report(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pq_books: dict | None = None,
    res_books: dict | None = None,
    opq_rot: dict | None = None,
    opq_books: dict | None = None,
) -> DataFrame:
    """Recall@k of every approximate similarity path against the exact
    brute-force top-k — THE number a user tunes tables/planes/nprobe
    against: without it the approximate entries ship with no measured
    recall, and parameter tuning flies blind.

    recall@k(method) = |approx top-k pairs ∩ exact top-k pairs| / |exact
    top-k pairs|, pooled over all queries.  The nine production paths
    are graded with their corpus-entry parameters: hyperplane LSH
    (8 tables × 4 planes), IVF (nprobe=3, stride-100 centroids),
    product quantization (4 subspaces × 8 codes, ADC scoring), OPQ-lite
    (the same PQ in the Householder-rotated basis — its delta vs the
    'pq' row is exactly what rotation buys at equal m/ncode), int8
    quantization, the IVF+PQ hybrid, residual IVF+PQ, and BOTH hybrids
    with the exact refine stage — all four hybrid rows at the SAME
    m/ncode/nprobe, so the residual refinement's and the exact
    re-rank's accuracy gains are measured independently and composed,
    never assumed (PQ-family and int8 paths exclude zero-norm vectors
    on both sides — the documented contract).

    Plan: the exact top-k (|queries|·k id pairs — tiny) materializes
    once via the stage-checkpoint discipline and feeds the hit-joins;
    each approximate path scans the corpus exactly as its own entry
    does; the union of approx (method, query_id, match_id) rows
    hit-joins the broadcast exact set, and one-row totals cross-join on.
    No driver collect; every join side that is small is broadcast.

    Output: (method, n_queries, n_exact, n_hits, recall) — one row per
    method ('ivf', 'ivfpq', 'ivfpq_refine', 'ivfpq_residual',
    'ivfpq_residual_refine', 'lsh', 'opq', 'pq', 'quantized'); a method
    with zero hits still reports (recall 0.0)."""
    from functools import reduce

    exact = cosine_topk(queries, corpus, k, vec_col, id_col).select(
        "query_id", "match_id"
    )
    nz_q = queries.filter(norm(vec_col) > 0)
    nz_c = corpus.filter(norm(vec_col) > 0)
    # ONE ADC scan serves both hybrid rows: the ivfpq row is its top-k
    # prefix, the refine row exact-re-ranks its top-REFINE_N — without
    # the shared, checkpointed frame (union legs do not dedupe common
    # subplans) the report would run the coarse-assignment + code scan
    # twice.  Same shape for the residual pair of rows.
    adc = ivfpq_topk(
        nz_q, nz_c, REFINE_N, vec_col=vec_col, id_col=id_col, books=pq_books
    ).select("query_id", "match_id", "rank")
    res_adc = residual_ivfpq_topk(
        nz_q, nz_c, REFINE_N, vec_col=vec_col, id_col=id_col, books=res_books
    ).select("query_id", "match_id", "rank")
    # The three staged frames are INDEPENDENT subtrees (exact
    # brute-force set, PQ ADC scan, residual ADC scan), so their
    # checkpoint jobs overlap.
    exact, adc, res_adc = session.stage(exact, adc, res_adc)
    paths = [
        ("ivf", ivf_topk(queries, corpus, k, vec_col=vec_col, id_col=id_col)),
        ("lsh", lsh_ann_topk(queries, corpus, k, vec_col=vec_col, id_col=id_col)),
        (
            "pq",
            pq_topk(
                nz_q, nz_c, k, vec_col=vec_col, id_col=id_col, books=pq_books
            ),
        ),
        (
            "opq",
            opq_topk(
                nz_q,
                nz_c,
                k,
                vec_col=vec_col,
                id_col=id_col,
                rot=opq_rot,
                books=opq_books,
            ),
        ),
        ("quantized", quantized_topk(nz_q, nz_c, k, vec_col=vec_col, id_col=id_col)),
        ("ivfpq", adc.filter(F.col("rank") <= k)),
        ("ivfpq_residual", res_adc.filter(F.col("rank") <= k)),
        (
            "ivfpq_refine",
            exact_rerank(
                adc.select("query_id", "match_id"),
                nz_q,
                nz_c,
                k,
                vec_col=vec_col,
                id_col=id_col,
            ),
        ),
        (
            "ivfpq_residual_refine",
            exact_rerank(
                res_adc.select("query_id", "match_id"),
                nz_q,
                nz_c,
                k,
                vec_col=vec_col,
                id_col=id_col,
            ),
        ),
    ]
    approx = reduce(
        DataFrame.unionByName,
        [
            df.select(F.lit(m).alias("method"), "query_id", "match_id")
            for m, df in paths
        ],
    )
    hits = (
        approx.join(F.broadcast(exact), on=["query_id", "match_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    methods = queries.sparkSession.createDataFrame(
        [(m,) for m, _ in paths], "method string"
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
    # n_exact = 0 (empty corpus / no queries) must report recall 0.0,
    # not a 0/0 whose NaN-vs-NULL rendering differs between engines
    recall = F.when(F.col("n_exact") == 0, F.lit(0.0)).otherwise(
        F.round(n_hits.cast("double") / F.col("n_exact"), 6)
    )
    return (
        methods.join(hits, on="method", how="left")
        .crossJoin(F.broadcast(totals))
        .select(
            "method",
            "n_queries",
            "n_exact",
            n_hits.alias("n_hits"),
            recall.alias("recall"),
        )
    )
