"""Incremental-ETL + training-data-selection corpus entries.

The reference can only drop-and-reload a destination (ConvertMode,
SURVEY.md §1.5); resyncing at 100 TB needs change detection and merge
instead, so the engine adds the CDC pair (``copy.incremental_diff`` /
``copy.merge_upsert``).  Alongside: deterministic stratified sampling,
token-budget corpus selection (operators/selection.py), canonical-doc
dedup survivors, and int8-quantized similarity search — the
training-data-pipeline selection layer over the same fixtures.

Oracle notes: the diff oracle compares columns directly (IS DISTINCT
FROM) while Spark compares one portable row hash per side — same
classification, which is exactly what the hash is for.  The quantized
search oracle reproduces scale, codes, and integer dot products in SQL;
ranking uses rounded scores with id tiebreaks on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark import copy as cp
from spanner_jdbc_converter_spark.catalog import load_table
from spanner_jdbc_converter_spark.functions.hashing import md5_long_sql
from spanner_jdbc_converter_spark.functions.vector import norm
from spanner_jdbc_converter_spark.operators import dedup as dd
from spanner_jdbc_converter_spark.operators import selection as sel
from spanner_jdbc_converter_spark.operators import similarity as sim
from spanner_jdbc_converter_spark.operators import text as tx
from spanner_jdbc_converter_spark.operators import validate as vd
from spanner_jdbc_converter_spark.plans.extensions import (
    _COS_SQL,
    _GRAMS_SQL,
    _HASHES_SQL,
    _STOPWORDS_SQL,
    _TOKS_SQL,
    _ann_bucket_sql,
    _cos_sql,
    _lsh_band_exprs_sql,
    _minhash_sig_sql,
)
from spanner_jdbc_converter_spark.plans.registry import (
    materialized,
    register,
    session_store,
)

# ---------------------------------------------------------------------------
# Incremental copy: diff + merge
# ---------------------------------------------------------------------------

_DIFF_COMPARE = ["o_custkey", "o_orderstatus", "o_orderpriority"]


@register(
    "copy_incremental_diff",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders),
    dst AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 101 = 0)
    SELECT COALESCE(s.o_orderkey, d.o_orderkey) AS o_orderkey,
           CASE WHEN d.o_orderkey IS NULL THEN 'insert'
                WHEN s.o_orderkey IS NULL THEN 'delete'
                WHEN s.o_custkey IS DISTINCT FROM d.o_custkey
                     OR s.o_orderstatus IS DISTINCT FROM d.o_orderstatus
                     OR s.o_orderpriority IS DISTINCT FROM d.o_orderpriority
                  THEN 'update' END AS change_type
    FROM src s FULL OUTER JOIN dst d ON s.o_orderkey = d.o_orderkey
    WHERE (d.o_orderkey IS NULL OR s.o_orderkey IS NULL
           OR s.o_custkey IS DISTINCT FROM d.o_custkey
           OR s.o_orderstatus IS DISTINCT FROM d.o_orderstatus
           OR s.o_orderpriority IS DISTINCT FROM d.o_orderpriority)
    """,
)
def copy_incremental_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: destination derived from orders by
    dropping every 97th key (→ insert), restamping every 89th key's
    status (→ update), and shifting every 101st key out of range
    (→ delete).  Spark classifies via one portable row hash per side —
    the (pk, hash) projection is all the full-outer shuffle carries."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", *_DIFF_COMPARE)
    dst = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 89 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
    )
    extra = o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
    )
    dst = dst.unionByName(extra)
    return cp.incremental_diff(o, dst, ["o_orderkey"], _DIFF_COMPARE)


@register(
    "copy_merge_upsert",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 50 = 0
      UNION ALL
      SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 75 = 0)
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM upd
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = c.c_custkey)
    """,
)
def copy_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE over immutable storage: an update batch (every 50th customer
    re-priced + re-segmented, every 75th key re-inserted under a new id)
    wins on key match; everything else survives via keys-only anti join
    (broadcast — the target is ONE scan, zero shuffle)."""
    c = load_table(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    upd = (
        c.filter(F.col("c_custkey") % 50 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0))
        .withColumn("c_mktsegment", F.lit("UPDATED"))
    )
    new = c.filter(F.col("c_custkey") % 75 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + F.lit(10000000)
    )
    updates = upd.select(*cols).unionByName(new.select(*cols))
    return cp.merge_upsert(c.select(*cols), updates, ["c_custkey"]).select(*cols)


# ---------------------------------------------------------------------------
# Training-data selection
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 60, "de": 40}
_SAMPLE_DEFAULT = 25

_BUCKET_SQL = md5_long_sql("concat(lang, ':', CAST(doc_id AS VARCHAR))") + " % 100"


@register(
    "select_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_BUCKET_SQL} <
          CASE WHEN lang = 'de' THEN 40 WHEN lang = 'en' THEN 60 ELSE 25 END
    """,
)
def select_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (60% en, 40% de, 25% rest) by
    portable hash bucket — reproducible across runs/partitionings/
    engines, unlike rand()-based sample; pure narrow filter in the
    scan, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return sel.stratified_sample(d, "lang", "doc_id", _SAMPLE_RATES, _SAMPLE_DEFAULT).select(
        "doc_id", "lang"
    )


TOKEN_BUDGET = 20_000


@register(
    "select_token_budget",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
             CAST(coalesce(list_sum(list_transform({_TOKS_SQL},
                  x -> CASE WHEN x IN ({_STOPWORDS_SQL}) THEN 1 ELSE 0 END)), 0) AS BIGINT)
               AS n_stop
      FROM documents),
    q AS (
      SELECT doc_id, n_tokens,
             ROUND(
               0.4 * (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
             + 0.4 * least((CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 4, 1.0)
             + 0.2 * (1 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10, 1.0)),
             6) AS quality
      FROM f),
    w AS (
      SELECT doc_id, n_tokens, quality,
             CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM q)
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM w WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
)
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ordered corpus selection under a 20k-token budget.
    Semantically a single global running sum; executed as the two-phase
    banded prefix sum (operators/selection.py) so no stage ever windows
    the whole corpus in one task — the oracle IS the naive global
    window, proving the distributed plan computes identical values."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.col("text"), tx.tokens("text").alias("__toks"))
        .select(
            "doc_id",
            F.size("__toks").cast("long").alias("n_tokens"),
            tx.quality_score_from_tokens("text", F.col("__toks")).alias("quality"),
        )
    )
    out = sel.select_token_budget(d, "quality", "n_tokens", "doc_id", TOKEN_BUDGET)
    return out.select("doc_id", "n_tokens", "quality", F.col("_cum").alias("cum_tokens"))


@register(
    "dedup_survivor_docs",
    oracle=r"""
    WITH f AS (SELECT doc_id, lang, n_chars,
                      md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
               FROM documents),
         k AS (SELECT fp, MIN(doc_id) AS keeper FROM f GROUP BY fp)
    SELECT doc_id, lang, n_chars
    FROM f JOIN k ON f.fp = k.fp AND f.doc_id = k.keeper
    """,
)
def dedup_survivor_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup APPLIED: the surviving corpus after fingerprint dedup
    (deterministic min-id keeper per normalized-content group) — the
    step downstream training actually consumes, vs the group report of
    dedup_fingerprint_groups."""
    d = load_table(spark, sf_dir, "documents")
    return dd.fingerprint_dedup(d).select("doc_id", "lang", "n_chars")


PACK_CAPACITY = 512
#: Hash sub-shards per language for sequence packing.  lang alone has 5
#: values → max parallelism 5 and one full language per pandas group (an
#: OOM at corpus scale); the composite (lang, md5(doc_id) % 16) key bounds
#: every group to ~1/16 of a language and scales parallelism to 5 × 16.
#: At corpus scale this constant rises with volume — per-group Arrow
#: overhead is fixed, so shards should target ~100 MB-1 GB per group.
PACK_SHARDS = 16

_PACK_SHARD_SQL = (
    f"CAST({md5_long_sql('CAST(doc_id AS VARCHAR)')} % {PACK_SHARDS} AS INT)"
)


@register(
    "select_pack_sequences",
    oracle=f"""
    WITH RECURSIVE
    f AS (
      SELECT doc_id, lang, {_PACK_SHARD_SQL} AS shard,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
      FROM documents),
    t AS (
      SELECT doc_id, lang, shard, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY lang, shard ORDER BY doc_id) AS rn
      FROM f),
    p(doc_id, lang, shard, n_tokens, rn, bin_idx, bin_fill) AS (
      SELECT doc_id, lang, shard, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.lang, t.shard, t.n_tokens, t.rn,
             CASE WHEN p.bin_fill + t.n_tokens > {PACK_CAPACITY}
                  THEN p.bin_idx + 1 ELSE p.bin_idx END,
             CASE WHEN p.bin_fill + t.n_tokens > {PACK_CAPACITY}
                  THEN t.n_tokens ELSE p.bin_fill + t.n_tokens END
      FROM p JOIN t ON t.lang = p.lang AND t.shard = p.shard AND t.rn = p.rn + 1)
    SELECT doc_id, lang, shard, n_tokens, bin_idx, bin_fill FROM p
    """,
)
def select_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: greedy next-fit of documents into
    512-token bins in doc_id order, sharded by the composite
    (lang, md5(doc_id) % 16) key — lang alone caps parallelism at 5 and
    concentrates a whole language in one pandas group, which cannot hold
    at corpus scale.  The Spark side is one Arrow-batched sequential
    pass per composite shard (applyInPandas) with shards packing in
    parallel; the oracle walks the identical recurrence with a recursive
    CTE partitioned by the same key, so every shard assignment, bin
    index, and fill level is hash-checked."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tx.token_count("text").alias("n_tokens")
    )
    out = sel.pack_token_sequences(
        d, "lang", "n_tokens", "doc_id", PACK_CAPACITY, shards=PACK_SHARDS
    )
    return out.select("doc_id", "lang", "shard", "n_tokens", "bin_idx", "bin_fill")

#: l2 norm of the raw embedding list (DuckDB side; matches
#: functions/vector.norm's fold over the double-cast values).
_L2_SQL = (
    "sqrt(list_sum(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def _pq_ctes(
    query_pred: str = "vec_id % 50 = 0",
    cand_parts: list[str] | None = None,
    cand_name: str | None = None,
    prefix: str = "",
    emb_src: str = "embeddings",
) -> tuple[str, str]:
    """Product-quantization pipeline as CTE clauses: per subspace j, the
    unrolled fixed-iteration k-means codebook (the _kmeans_ctes
    discipline applied to the embedding SLICE), the corpus code
    assignment, and the query LUT partials; then the ADC-scored pair
    frame.  Returns (cte_clauses, pairs_cte_name); the pair frame has
    (query_id, match_id, adot, la, lb).  ``prefix`` namespaces every
    generated CTE (the _res_pq_ctes discipline) so a second
    instantiation — the OPQ-lite pipeline over the ROTATED frame named
    by ``emb_src`` — composes beside the plain one in one WITH."""
    m, ncode, iters = sim.PQ_M, sim.PQ_NCODE, sim.PQ_ITERS
    subdim = 64 // m
    p = prefix
    parts = [
        f"{p}emb_nz AS (SELECT vec_id, embedding FROM {emb_src}"
        f" WHERE {_L2_SQL} > 0)",
        f"{p}pql2 AS (SELECT vec_id, {_L2_SQL} AS l2 FROM {p}emb_nz)",
    ]
    sqf = (
        f"list_reduce(list_transform(range(1, {subdim + 1}),"
        " i -> (e.sv[i] - c.cvec[i]) * (e.sv[i] - c.cvec[i])), (a, b) -> a + b)"
    )
    for j in range(m):
        lo, hi = j * subdim + 1, (j + 1) * subdim
        parts.append(
            f"{p}s{j} AS (SELECT vec_id, list_transform(embedding[{lo}:{hi}],"
            f" x -> CAST(x AS DOUBLE)) AS sv FROM {p}emb_nz)"
        )
        parts.append(
            f"{p}k{j}0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, sv AS cvec"
            f" FROM {p}s{j} WHERE vec_id < {ncode})"
        )
        prev = f"{p}k{j}0"
        for it in range(1, iters + 1):
            parts.append(
                f"""{p}a{j}{it} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sq, cluster) AS rn
        FROM (SELECT e.vec_id, c.cluster, {sqf} AS sq
              FROM {p}s{j} e CROSS JOIN {prev} c)
      ) WHERE rn = 1)"""
            )
            if it < iters:
                parts.append(
                    f"""{p}k{j}{it} AS (
      SELECT cluster, list(cval ORDER BY pos) AS cvec FROM (
        SELECT cluster, pos,
               CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
        FROM (SELECT a.cluster AS cluster,
                     unnest(range(1, {subdim + 1})) AS pos,
                     unnest(s.sv) AS val
              FROM {p}a{j}{it} a JOIN {p}s{j} s USING (vec_id))
        GROUP BY cluster, pos
      ) GROUP BY cluster)"""
                )
                prev = f"{p}k{j}{it}"
        parts.append(
            f"""{p}qp{j} AS (
      SELECT q.vec_id AS query_id, c.cluster,
             list_sum(list_transform(range(1, {subdim + 1}),
                      i -> q.sv[i] * c.cvec[i])) AS partial
      FROM {p}s{j} q CROSS JOIN {prev} c WHERE q.{query_pred})"""
        )
    adot = " + ".join(f"{p}qp{j}.partial" for j in range(m))
    code_joins = "\n      ".join(
        f"JOIN {p}a{j}{iters} c{j} ON c{j}.vec_id = x.vec_id\n"
        f"      JOIN {p}qp{j} ON {p}qp{j}.query_id = q.vec_id"
        f" AND {p}qp{j}.cluster = c{j}.cluster"
        for j in range(m)
    )
    if cand_name is None:
        pair_from = (
            f"FROM {p}emb_nz q JOIN {p}emb_nz x ON q.vec_id <> x.vec_id"
        )
        pair_where = f"WHERE q.{query_pred}"
    else:
        # candidate-restricted pairing (IVFPQ): the cand CTE already
        # applies the query predicate and the self-pair exclusion
        parts.extend(cand_parts or [])
        pair_from = (
            f"FROM {cand_name} cd"
            f" JOIN {p}emb_nz q ON q.vec_id = cd.query_id"
            f" JOIN {p}emb_nz x ON x.vec_id = cd.match_id"
        )
        pair_where = ""
    parts.append(
        f"""{p}pqpairs AS (
      SELECT q.vec_id AS query_id, x.vec_id AS match_id,
             {adot} AS adot, ql.l2 AS la, xl.l2 AS lb
      {pair_from}
      {code_joins}
      JOIN {p}pql2 ql ON ql.vec_id = q.vec_id
      JOIN {p}pql2 xl ON xl.vec_id = x.vec_id
      {pair_where})"""
    )
    return ",\n    ".join(parts), f"{p}pqpairs"


_PQ_CTES, _PQ_PAIRS = _pq_ctes()


#: The trained PQ codebooks: the PQ and IVF-PQ top-k entries and
#: sim_ann_recall_report train the identical model on the identical
#: corpus, two Lloyd collects each; share one.  Plain dict payload.
@session_store("etl._PQ_BOOKS_STORE")
def _pq_books_for(spark: SparkSession, sf_dir: str) -> dict:
    e = load_table(spark, sf_dir, "embeddings").filter(norm(F.col("embedding")) > 0)
    return sim._pq_train(
        e, sim.PQ_M, sim.PQ_NCODE, sim.PQ_ITERS, 64, "embedding", "vec_id"
    )


@register(
    "sim_pq_topk",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT query_id, match_id, ROUND(adot, 6) AS adot,
           ROUND(adot / (la * lb), 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (SELECT query_id, match_id, adot, la, lb,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY ROUND(adot / (la * lb), 6) DESC,
                                             match_id) AS rank
          FROM {_PQ_PAIRS}) t
    WHERE rank <= 5
    """,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 by product-quantized cosine with asymmetric distance
    computation — the memory-bound production ANN path (m codebook ids
    + one norm per corpus vector instead of 64 floats): 4 subspaces ×
    8-centroid codebooks trained by the oracle-unrolled fixed-iteration
    k-means on each embedding slice, corpus encoded in one arg-min
    scan (Arrow-batched numpy kernel — the lsh_bucket_keys_pandas
    lesson), queries score candidates via per-query lookup tables.  The
    oracle replays codebook training, encoding, the LUT partials, the
    fixed-order ADC sum, and the ranking; adot surfaces ROUND(·, 6) on
    both engines (the one-ulp-ambiguity rationale in pq_topk's own
    docstring), with everything upstream of the round replayed
    term-for-term, so the whole PQ pipeline is decimal-audited.  See
    operators/similarity.py::pq_topk."""
    e = load_table(spark, sf_dir, "embeddings").filter(norm(F.col("embedding")) > 0)
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return sim.pq_topk(queries, e, k=5, books=_pq_books_for(spark, sf_dir))


def _ivfpq_cand_ctes(
    query_pred: str = "vec_id % 50 = 0",
    nprobe: int = 3,
    stride: int = 100,
) -> tuple[list[str], str]:
    """IVF coarse-quantizer candidate CTEs over the nonzero corpus —
    the sim_ivf_topk assignment contract (rounded cosine, ties to the
    smaller centroid id) rendered against emb_nz so it composes with
    the PQ CTEs."""
    return [
        f"ivcents AS (SELECT vec_id AS cent_id, embedding AS cvec"
        f" FROM emb_nz WHERE vec_id % {stride} = 1)",
        f"""ivassign AS (
      SELECT e.vec_id, c.cent_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_cos_sql("e.embedding", "c.cvec")}, 6) DESC,
                        c.cent_id) AS r
      FROM emb_nz e CROSS JOIN ivcents c)""",
        "ivcorp AS (SELECT vec_id AS match_id, cent_id FROM ivassign WHERE r = 1)",
        f"ivprobes AS (SELECT vec_id AS query_id, cent_id FROM ivassign"
        f" WHERE r <= {nprobe} AND {query_pred})",
        "ivcand AS (SELECT DISTINCT query_id, match_id"
        " FROM ivprobes JOIN ivcorp USING (cent_id)"
        " WHERE query_id <> match_id)",
    ], "ivcand"


_IVFPQ_CAND_PARTS, _IVFPQ_CAND = _ivfpq_cand_ctes()
_IVFPQ_CTES, _IVFPQ_PAIRS = _pq_ctes(
    cand_parts=_IVFPQ_CAND_PARTS, cand_name=_IVFPQ_CAND
)


def _res_pq_ctes(
    query_pred: str = "vec_id % 50 = 0",
    prefix: str = "r",
    include_cands: bool = True,
) -> tuple[str, str]:
    """Residual IVF+PQ as CTE clauses (the _pq_ctes discipline on the
    residual cloud): corpus residuals x − centroid(list) against the
    ivcorp/ivcents coarse assignment, the unrolled fixed-iteration
    k-means per residual subspace, residual codes, raw-query-slice LUT
    partials, the per-(query, probed-list) anchor dot ⟨q, c_list⟩, and
    the anchored ADC pair frame.  Every generated name carries
    ``prefix`` so the family composes beside _PQ_CTES in one WITH;
    requires emb_nz/pql2 and (unless ``include_cands``) the
    _ivfpq_cand_ctes iv* family already present.  Returns
    (cte_clauses, pairs_cte_name); the pair frame has (query_id,
    match_id, adot, la, lb)."""
    m, ncode, iters = sim.PQ_M, sim.PQ_NCODE, sim.PQ_ITERS
    subdim = 64 // m
    p = prefix
    parts: list[str] = []
    if include_cands:
        cand_parts, _ = _ivfpq_cand_ctes(query_pred)
        parts.extend(cand_parts)
    # residual vectors: exact double subtraction against the single
    # nearest coarse centroid (float32-exact values on both engines)
    parts.append(
        f"{p}v AS (SELECT ic.match_id AS vec_id, ic.cent_id,"
        " list_transform(range(1, 65),"
        " i -> CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))"
        " AS rvec"
        " FROM ivcorp ic JOIN emb_nz e ON e.vec_id = ic.match_id"
        " JOIN ivcents c USING (cent_id))"
    )
    sqf = (
        f"list_reduce(list_transform(range(1, {subdim + 1}),"
        " i -> (e.sv[i] - c.cvec[i]) * (e.sv[i] - c.cvec[i])), (a, b) -> a + b)"
    )
    for j in range(m):
        lo, hi = j * subdim + 1, (j + 1) * subdim
        parts.append(
            f"{p}s{j} AS (SELECT vec_id, rvec[{lo}:{hi}] AS sv FROM {p}v)"
        )
        parts.append(
            f"{p}qs{j} AS (SELECT vec_id, list_transform(embedding[{lo}:{hi}],"
            f" x -> CAST(x AS DOUBLE)) AS sv FROM emb_nz WHERE {query_pred})"
        )
        parts.append(
            f"{p}k{j}0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, sv AS cvec"
            f" FROM {p}s{j} WHERE vec_id < {ncode})"
        )
        prev = f"{p}k{j}0"
        for it in range(1, iters + 1):
            parts.append(
                f"""{p}a{j}{it} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sq, cluster) AS rn
        FROM (SELECT e.vec_id, c.cluster, {sqf} AS sq
              FROM {p}s{j} e CROSS JOIN {prev} c)
      ) WHERE rn = 1)"""
            )
            if it < iters:
                parts.append(
                    f"""{p}k{j}{it} AS (
      SELECT cluster, list(cval ORDER BY pos) AS cvec FROM (
        SELECT cluster, pos,
               CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
        FROM (SELECT a.cluster AS cluster,
                     unnest(range(1, {subdim + 1})) AS pos,
                     unnest(s.sv) AS val
              FROM {p}a{j}{it} a JOIN {p}s{j} s USING (vec_id))
        GROUP BY cluster, pos
      ) GROUP BY cluster)"""
                )
                prev = f"{p}k{j}{it}"
        parts.append(
            f"""{p}qp{j} AS (
      SELECT q.vec_id AS query_id, c.cluster,
             list_sum(list_transform(range(1, {subdim + 1}),
                      i -> q.sv[i] * c.cvec[i])) AS partial
      FROM {p}qs{j} q CROSS JOIN {prev} c)"""
        )
    # the anchor term: one dot per (query, probed list) — nq·nprobe rows
    parts.append(
        f"{p}qc AS (SELECT ip.query_id, ip.cent_id,"
        " list_sum(list_transform(range(1, 65),"
        " i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE)))"
        " AS qcdot"
        " FROM ivprobes ip JOIN emb_nz q ON q.vec_id = ip.query_id"
        " JOIN ivcents c USING (cent_id))"
    )
    adot = " + ".join([f"{p}qc.qcdot"] + [f"{p}qp{j}.partial" for j in range(m)])
    code_joins = "\n      ".join(
        f"JOIN {p}a{j}{iters} c{j} ON c{j}.vec_id = ic.match_id\n"
        f"      JOIN {p}qp{j} ON {p}qp{j}.query_id = ip.query_id"
        f" AND {p}qp{j}.cluster = c{j}.cluster"
        for j in range(m)
    )
    parts.append(
        f"""{p}pqpairs AS (
      SELECT ip.query_id, ic.match_id,
             {adot} AS adot, ql.l2 AS la, xl.l2 AS lb
      FROM ivcorp ic
      JOIN ivprobes ip USING (cent_id)
      {code_joins}
      JOIN {p}qc ON {p}qc.query_id = ip.query_id
                AND {p}qc.cent_id = ic.cent_id
      JOIN pql2 ql ON ql.vec_id = ip.query_id
      JOIN pql2 xl ON xl.vec_id = ic.match_id
      WHERE ip.query_id <> ic.match_id)"""
    )
    return ",\n    ".join(parts), f"{p}pqpairs"


_RESPQ_BASE = (
    f"emb_nz AS (SELECT vec_id, embedding FROM embeddings WHERE {_L2_SQL} > 0),\n"
    f"    pql2 AS (SELECT vec_id, {_L2_SQL} AS l2 FROM emb_nz)"
)
_RESPQ_CTES, _RESPQ_PAIRS = _res_pq_ctes()


#: The trained RESIDUAL codebooks: the residual IVF-PQ entries and
#: sim_ann_recall_report train the identical residual model on the
#: identical corpus; share one.
@session_store("etl._RES_BOOKS_STORE")
def _res_books_for(spark: SparkSession, sf_dir: str) -> dict:
    e = load_table(spark, sf_dir, "embeddings").filter(norm(F.col("embedding")) > 0)
    return sim.residual_pq_train(e)


@register(
    "sim_residual_ivfpq_topk",
    oracle=f"""
    WITH {_RESPQ_BASE},
    {_RESPQ_CTES}
    SELECT query_id, match_id, ROUND(adot, 6) AS adot,
           ROUND(adot / (la * lb), 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (SELECT query_id, match_id, adot, la, lb,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY ROUND(adot / (la * lb), 6) DESC,
                                             match_id) AS rank
          FROM {_RESPQ_PAIRS}) t
    WHERE rank <= 5
    """,
)
def sim_residual_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF + PQ top-5 — the ACCURATE production ANN form
    (ivfpq_topk's documented next step, now measured): corpus vectors
    PQ-encode their residual against the coarse centroid, and scoring
    anchors the ADC sum at ⟨q, c_list⟩, so the codebooks model only the
    small residual cloud.  The oracle unrolls the coarse assignment,
    the exact residual subtraction, the per-subspace residual k-means,
    the anchor dots, and the anchored fixed-order ADC sum — the whole
    refinement is decimal-audited like its non-residual sibling.  See
    operators/similarity.py::residual_ivfpq_topk."""
    e = load_table(spark, sf_dir, "embeddings").filter(norm(F.col("embedding")) > 0)
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return sim.residual_ivfpq_topk(
        queries, e, k=5, books=_res_books_for(spark, sf_dir)
    )


@register(
    "sim_residual_refine_topk",
    oracle=f"""
    WITH {_RESPQ_BASE},
    {_RESPQ_CTES},
    rrefcand AS (
      SELECT query_id, match_id
      FROM (SELECT query_id, match_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND(adot / (la * lb), 6) DESC,
                                               match_id) AS rank
            FROM {_RESPQ_PAIRS}) t
      WHERE rank <= {sim.REFINE_N}),
    rrefexact AS (
      SELECT rc.query_id, rc.match_id,
             ROUND({_cos_sql("a.embedding", "b.embedding")}, 6) AS cosine
      FROM rrefcand rc
      JOIN emb_nz a ON a.vec_id = rc.query_id
      JOIN emb_nz b ON b.vec_id = rc.match_id)
    SELECT query_id, match_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM (SELECT query_id, match_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, match_id) AS rank
          FROM rrefexact) t
    WHERE rank <= 5
    """,
)
def sim_residual_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF+PQ top-5 with the exact refine stage — the refine
    matrix completed (both hybrids x with/without exact re-rank, all at
    equal nprobe/m): the anchored residual ADC scan ranks candidates,
    the top-50 re-score with exact rounded cosines at candidate-set
    cost.  The oracle composes the bit-audited residual CTE family with
    the exact re-rank; the recall report's eighth row measures what
    refine buys the residual path.  See
    operators/similarity.py::residual_refine_topk."""
    e = load_table(spark, sf_dir, "embeddings").filter(norm(F.col("embedding")) > 0)
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return sim.residual_refine_topk(
        queries, e, k=5, books=_res_books_for(spark, sf_dir)
    )


@register(
    "sim_ivfpq_topk",
    oracle=f"""
    WITH {_IVFPQ_CTES}
    SELECT query_id, match_id, ROUND(adot, 6) AS adot,
           ROUND(adot / (la * lb), 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (SELECT query_id, match_id, adot, la, lb,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY ROUND(adot / (la * lb), 6) DESC,
                                             match_id) AS rank
          FROM {_IVFPQ_PAIRS}) t
    WHERE rank <= 5
    """,
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ top-5 — the production ANN pairing: the coarse
    quantizer PRUNES each query to its 3 nearest inverted lists
    (sim_ivf_topk's candidate contract) and product quantization
    COMPRESSES the scoring to m LUT lookups per candidate
    (sim_pq_topk's ADC contract, codebooks shared via the session
    cache).  Both error sources — list pruning and code quantization —
    are measured by their own entries and compose here; the oracle
    composes the same two unrolled CTE families, so the whole hybrid
    is bit-audited end to end.  See
    operators/similarity.py::ivfpq_topk."""
    e = load_table(spark, sf_dir, "embeddings").filter(norm(F.col("embedding")) > 0)
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return sim.ivfpq_topk(queries, e, k=5, books=_pq_books_for(spark, sf_dir))


@register(
    "sim_ivfpq_refine_topk",
    oracle=f"""
    WITH {_IVFPQ_CTES},
    refcand AS (
      SELECT query_id, match_id
      FROM (SELECT query_id, match_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND(adot / (la * lb), 6) DESC,
                                               match_id) AS rank
            FROM {_IVFPQ_PAIRS}) t
      WHERE rank <= {sim.REFINE_N}),
    refexact AS (
      SELECT rc.query_id, rc.match_id,
             ROUND({_cos_sql("a.embedding", "b.embedding")}, 6) AS cosine
      FROM refcand rc
      JOIN emb_nz a ON a.vec_id = rc.query_id
      JOIN emb_nz b ON b.vec_id = rc.match_id)
    SELECT query_id, match_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM (SELECT query_id, match_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, match_id) AS rank
          FROM refexact) t
    WHERE rank <= 5
    """,
)
def sim_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-5 with the exact refine stage (VERDICT r15 "What's
    missing #2" — FAISS IndexRefine's composition): the ADC scan ranks
    its candidates from 4-subspace codes, the top-50 re-score with
    EXACT rounded cosines at candidate-set cost, and the final top-5 is
    exact within the candidate pool — the last recall points recovered
    without another corpus-wide scan.  The oracle composes the
    bit-audited IVF+PQ CTE families with the exact re-rank; what refine
    BUYS at equal nprobe/m is measured by sim_ann_recall_report's
    seventh row.  See operators/similarity.py::ivfpq_refine_topk."""
    e = load_table(spark, sf_dir, "embeddings").filter(norm(F.col("embedding")) > 0)
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return sim.ivfpq_refine_topk(
        queries, e, k=5, books=_pq_books_for(spark, sf_dir)
    )


_QCODES_SQL = """
    prep AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s,
             sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS l2
      FROM embeddings),
    codes AS (
      SELECT vec_id, s, l2,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS BIGINT)) AS q
      FROM prep WHERE l2 > 0)
"""


@register(
    "sim_quantized_topk",
    oracle=f"""
    WITH {_QCODES_SQL},
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS match_id,
             CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                  i -> a.q[i] * b.q[i])) AS BIGINT) AS qdot,
             a.s AS sa, b.s AS sb, a.l2 AS la, b.l2 AS lb
      FROM codes a JOIN codes b ON a.vec_id <> b.vec_id
      WHERE a.vec_id % 50 = 0),
    scored AS (
      SELECT query_id, match_id, qdot,
             ROUND(CAST(qdot AS DOUBLE) * sa * sb / (la * lb), 6) AS score
      FROM pairs)
    SELECT query_id, match_id, qdot, score, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, match_id) AS rank
          FROM scored) t
    WHERE rank <= 5
    """,
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 similarity over int8-quantized vectors: exact integer dot
    products rescaled by per-vector scales — the compressed-vector scale
    path (~3.5× smaller than float32 ⇒ less shuffle and memory
    bandwidth at 100 TB).  Codes, scales, integer dots, and ranking are
    all reproduced in the oracle; qdot is hash-checked as an exact
    integer, so the whole quantization pipeline is bit-audited."""
    e = load_table(spark, sf_dir, "embeddings").filter(norm(F.col("embedding")) > 0)
    queries = e.filter(F.col("vec_id") % 50 == 0)
    out = sim.quantized_topk(queries, e, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# OPQ-lite: PQ in a Householder-rotated basis (VERDICT r16 "What's
# missing #3").  The rotation model is two Householder reflections
# aligning pc1/pc2 to the leading dims of subspaces 0 and 1
# (operators/similarity.py::opq_rotation); the oracle rebuilds the
# identical u vectors from its own unrolled pca2 chains
# (plans/spectral_sql.py), rotates the corpus in SQL, and replays the
# whole PQ pipeline over the rotated frame via a prefix-namespaced
# second _pq_ctes instantiation.
# ---------------------------------------------------------------------------
from spanner_jdbc_converter_spark.operators import clustering as cl  # noqa: E402
from spanner_jdbc_converter_spark.plans.spectral_sql import (  # noqa: E402
    _fold64_sql,
    _pca2_ctes,
)

_OPQ_PCA2_CTES, _OPQ_V1, _OPQ_U, _OPQ_RAY2 = _pca2_ctes(cl.PC1_ITERS, 64)


def _opq_rot_ctes() -> tuple[str, str]:
    """Householder-rotation CTE clauses over the pca2 chains: u1 from
    v1 (target dim 1), v2 reflected through H1, u2 from H1(v2) (target
    dim subdim+1), then the rotated embedding frame (vec_id,
    embedding).  Requires the _pca2_ctes clauses in the same WITH.
    Returns (clauses, rotated_frame_cte)."""
    subdim = 64 // sim.PQ_M
    f = _fold64_sql

    def hh_u(src: str, target_1idx: int) -> str:
        sgn = (
            f"CASE WHEN v[{target_1idx}] >= 0 THEN CAST(1.0 AS DOUBLE)"
            f" ELSE CAST(-1.0 AS DOUBLE) END"
        )
        return (
            f"SELECT list_transform(range(1, 65), d -> v[d]"
            f" + CASE WHEN d = {target_1idx} THEN ({sgn})"
            f" ELSE CAST(0.0 AS DOUBLE) END) AS u FROM {src}"
        )

    parts = [
        f"opqu1p AS ({hh_u(_OPQ_V1, 1)})",
        f"opqh1 AS (SELECT u, {f('u', 'u')} AS usq FROM opqu1p)",
        f"""opqv2r AS (
      SELECT list_transform(range(1, 65),
             d -> uu.v[d] - ((2.0 * {f("h.u", "uu.v")}) / h.usq) * h.u[d]) AS v
      FROM opqh1 h, {_OPQ_U} uu)""",
        f"opqu2p AS ({hh_u('opqv2r', subdim + 1)})",
        f"opqh2 AS (SELECT u, {f('u', 'u')} AS usq FROM opqu2p)",
        "opqx AS (SELECT vec_id, list_transform(embedding,"
        " t -> CAST(t AS DOUBLE)) AS x FROM embeddings)",
        f"""opqc1 AS (
      SELECT e.vec_id, e.x, (2.0 * {f("e.x", "h.u")}) / h.usq AS c, h.u AS u
      FROM opqx e, opqh1 h)""",
        "opqr1 AS (SELECT vec_id,"
        " list_transform(range(1, 65), d -> x[d] - c * u[d]) AS x FROM opqc1)",
        f"""opqc2 AS (
      SELECT e.vec_id, e.x, (2.0 * {f("e.x", "h.u")}) / h.usq AS c, h.u AS u
      FROM opqr1 e, opqh2 h)""",
        "opqrot AS (SELECT vec_id,"
        " list_transform(range(1, 65), d -> x[d] - c * u[d]) AS embedding"
        " FROM opqc2)",
    ]
    return ",\n    ".join(parts), "opqrot"


_OPQ_ROT_CTES, _OPQ_ROT = _opq_rot_ctes()
_OPQ_PQ_CTES, _OPQ_PAIRS = _pq_ctes(prefix="o", emb_src=_OPQ_ROT)

#: The OPQ model (rotation vectors + rotated-basis codebooks), shared
#: by sim_opq_topk and sim_ann_recall_report: learning costs two
#: power-iteration chains plus the Lloyd collects.
@session_store("etl._OPQ_STORE")
def _opq_model_for(spark: SparkSession, sf_dir: str) -> dict:
    emb = load_table(spark, sf_dir, "embeddings")
    # rotation learns on the FULL frame — the pca2 chains' exact input
    rot = sim.opq_rotation(emb)
    books: dict = {}
    if rot:
        nz = sim.opq_rotated(
            emb.filter(norm(F.col("embedding")) > 0), "embedding", rot
        )
        books = sim._pq_train(
            nz, sim.PQ_M, sim.PQ_NCODE, sim.PQ_ITERS, 64, "__rot", "vec_id"
        )
    return {"rot": rot, "books": books}


@register(
    "sim_opq_topk",
    oracle=f"""
    WITH {_OPQ_PCA2_CTES},
    {_OPQ_ROT_CTES},
    {_OPQ_PQ_CTES}
    SELECT query_id, match_id, ROUND(adot, 6) AS adot,
           ROUND(adot / (la * lb), 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (SELECT query_id, match_id, adot, la, lb,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY ROUND(adot / (la * lb), 6) DESC,
                                             match_id) AS rank
          FROM {_OPQ_PAIRS}) t
    WHERE rank <= 5
    """,
)
def sim_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 by OPQ-lite product quantization — the sim_pq_topk
    pipeline run in a rotated basis (VERDICT r16 "What's missing #3"):
    two Householder reflections (closed-form from the power-iteration
    pc1/pc2, operators/similarity.py::opq_rotation) align the top two
    variance directions to the leading dims of subspaces 0 and 1, the
    codebooks train on the ROTATED corpus at the IDENTICAL m/ncode, and
    ADC scoring proceeds verbatim — so this entry vs sim_pq_topk is a
    controlled experiment in what rotation buys the quantizer (the
    recall report's ninth row grades it).

    Scale: the rotation rides as 4·64 literal doubles folded into the
    same one-pass scans PQ already does — two codegen zip_with chains,
    no UDF, no extra shuffle; the corpus is never exchanged before the
    per-query rank.  The oracle rebuilds the rotation from its own
    unrolled pca2 chains, rotates in SQL, and replays codebook
    training, encode, LUT, ADC, and ranking over the rotated frame."""
    e = load_table(spark, sf_dir, "embeddings")
    model = _opq_model_for(spark, sf_dir)
    nz = e.filter(norm(F.col("embedding")) > 0)
    queries = nz.filter(F.col("vec_id") % 50 == 0)
    return sim.opq_topk(
        queries, nz, k=5, rot=model["rot"], books=model["books"]
    )


#: Recall grading depth — deeper than the entries' k=5 so boundary ties
#: don't dominate the recall signal.
_RECALL_K = 10

_RECALL_RES_CTES, _RECALL_RES_PAIRS = _res_pq_ctes()

_ANN_RECALL_ORACLE = f"""
    WITH {_QCODES_SQL},
    {_PQ_CTES},
    {_OPQ_PCA2_CTES},
    {_OPQ_ROT_CTES},
    {_OPQ_PQ_CTES},
    {_RECALL_RES_CTES},
    opq_top AS (
      SELECT query_id, match_id
      FROM (SELECT query_id, match_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND(adot / (la * lb), 6) DESC,
                                               match_id) AS rank
            FROM {_OPQ_PAIRS}) t
      WHERE rank <= {_RECALL_K}),
    ivfpq_ranked AS (
      SELECT p.query_id, p.match_id,
             ROW_NUMBER() OVER (PARTITION BY p.query_id
                                ORDER BY ROUND(p.adot / (p.la * p.lb), 6) DESC,
                                         p.match_id) AS rank
      FROM {_PQ_PAIRS} p JOIN ivcand c
        ON c.query_id = p.query_id AND c.match_id = p.match_id),
    ivfpq_top AS (
      SELECT query_id, match_id FROM ivfpq_ranked WHERE rank <= {_RECALL_K}),
    refine_top AS (
      SELECT query_id, match_id
      FROM (SELECT rc.query_id, rc.match_id,
                   ROW_NUMBER() OVER (PARTITION BY rc.query_id
                                      ORDER BY ROUND({_cos_sql("a.embedding", "b.embedding")}, 6) DESC,
                                               rc.match_id) AS rank
            FROM (SELECT query_id, match_id FROM ivfpq_ranked
                  WHERE rank <= {sim.REFINE_N}) rc
            JOIN embeddings a ON a.vec_id = rc.query_id
            JOIN embeddings b ON b.vec_id = rc.match_id) t
      WHERE rank <= {_RECALL_K}),
    respq_ranked AS (
      SELECT query_id, match_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(adot / (la * lb), 6) DESC,
                                         match_id) AS rank
      FROM {_RECALL_RES_PAIRS}),
    respq_top AS (
      SELECT query_id, match_id FROM respq_ranked WHERE rank <= {_RECALL_K}),
    res_refine_top AS (
      SELECT query_id, match_id
      FROM (SELECT rc.query_id, rc.match_id,
                   ROW_NUMBER() OVER (PARTITION BY rc.query_id
                                      ORDER BY ROUND({_cos_sql("a.embedding", "b.embedding")}, 6) DESC,
                                               rc.match_id) AS rank
            FROM (SELECT query_id, match_id FROM respq_ranked
                  WHERE rank <= {sim.REFINE_N}) rc
            JOIN embeddings a ON a.vec_id = rc.query_id
            JOIN embeddings b ON b.vec_id = rc.match_id) t
      WHERE rank <= {_RECALL_K}),
    pq_top AS (
      SELECT query_id, match_id
      FROM (SELECT query_id, match_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND(adot / (la * lb), 6) DESC,
                                               match_id) AS rank
            FROM {_PQ_PAIRS}) t
      WHERE rank <= {_RECALL_K}),
    exact AS (
      SELECT query_id, match_id
      FROM (SELECT a.vec_id AS query_id, b.vec_id AS match_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY ROUND({_COS_SQL}, 6) DESC,
                                               b.vec_id) AS rank
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            WHERE a.vec_id % 50 = 0) t
      WHERE rank <= {_RECALL_K}),
    keyed AS (SELECT vec_id, unnest([{_ann_bucket_sql()}]) AS bucket
              FROM embeddings),
    lsh_cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS match_id
                 FROM keyed q JOIN keyed c USING (bucket)
                 WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
    lsh_top AS (
      SELECT query_id, match_id
      FROM (SELECT query_id, match_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND({_COS_SQL}, 6) DESC,
                                               match_id) AS rank
            FROM lsh_cand
            JOIN embeddings a ON a.vec_id = query_id
            JOIN embeddings b ON b.vec_id = match_id) t
      WHERE rank <= {_RECALL_K}),
    cents AS (SELECT vec_id AS cent_id, embedding AS cvec
              FROM embeddings WHERE vec_id % 100 = 1),
    assign AS (SELECT e.vec_id, c.cent_id,
                      ROW_NUMBER() OVER (
                        PARTITION BY e.vec_id
                        ORDER BY ROUND({_cos_sql("e.embedding", "c.cvec")}, 6) DESC,
                                 c.cent_id) AS r
               FROM embeddings e CROSS JOIN cents c),
    corp AS (SELECT vec_id AS match_id, cent_id FROM assign WHERE r = 1),
    probes AS (SELECT vec_id AS query_id, cent_id FROM assign
               WHERE r <= 3 AND vec_id % 50 = 0),
    ivf_cand AS (SELECT DISTINCT query_id, match_id
                 FROM probes JOIN corp USING (cent_id)
                 WHERE query_id <> match_id),
    ivf_top AS (
      SELECT query_id, match_id
      FROM (SELECT query_id, match_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ROUND({_COS_SQL}, 6) DESC,
                                               match_id) AS rank
            FROM ivf_cand
            JOIN embeddings a ON a.vec_id = query_id
            JOIN embeddings b ON b.vec_id = match_id) t
      WHERE rank <= {_RECALL_K}),
    q_top AS (
      SELECT query_id, match_id
      FROM (SELECT a.vec_id AS query_id, b.vec_id AS match_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY ROUND(CAST(list_sum(list_transform(
                                range(1, len(a.q) + 1), i -> a.q[i] * b.q[i]))
                              AS DOUBLE) * a.s * b.s / (a.l2 * b.l2), 6) DESC,
                              b.vec_id) AS rank
            FROM codes a JOIN codes b ON a.vec_id <> b.vec_id
            WHERE a.vec_id % 50 = 0) t
      WHERE rank <= {_RECALL_K}),
    un AS (SELECT 'ivf' AS method, query_id, match_id FROM ivf_top
           UNION ALL SELECT 'lsh', query_id, match_id FROM lsh_top
           UNION ALL SELECT 'pq', query_id, match_id FROM pq_top
           UNION ALL SELECT 'opq', query_id, match_id FROM opq_top
           UNION ALL SELECT 'quantized', query_id, match_id FROM q_top
           UNION ALL SELECT 'ivfpq', query_id, match_id FROM ivfpq_top
           UNION ALL SELECT 'ivfpq_residual', query_id, match_id FROM respq_top
           UNION ALL SELECT 'ivfpq_refine', query_id, match_id FROM refine_top
           UNION ALL SELECT 'ivfpq_residual_refine', query_id, match_id
             FROM res_refine_top),
    hits AS (SELECT method, count(*) AS n_hits
             FROM un JOIN exact USING (query_id, match_id)
             GROUP BY method),
    tot AS (SELECT count(DISTINCT query_id) AS n_queries,
                   count(*) AS n_exact
            FROM exact),
    methods AS (SELECT unnest(['ivf', 'lsh', 'opq', 'pq', 'quantized',
                               'ivfpq', 'ivfpq_residual',
                               'ivfpq_refine',
                               'ivfpq_residual_refine']) AS method)
    SELECT m.method, t.n_queries, t.n_exact,
           COALESCE(h.n_hits, 0) AS n_hits,
           CASE WHEN t.n_exact = 0 THEN 0.0
                ELSE ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                           / t.n_exact, 6) END AS recall
    FROM methods m LEFT JOIN hits h USING (method) CROSS JOIN tot t
"""


@register("sim_ann_recall_report", oracle=_ANN_RECALL_ORACLE)
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of ALL NINE approximate similarity paths (hyperplane
    LSH, IVF, PQ, OPQ-lite rotated PQ, int8 quantization, IVF+PQ,
    residual IVF+PQ, and the two exact-refine hybrids — ivfpq_refine
    and ivfpq_residual_refine — each at its own entry's parameters, the
    four hybrids at EQUAL m/ncode/nprobe so the residual refinement's
    and each exact re-rank's gains are measured, and the opq row at the
    pq row's EQUAL m/ncode so the rotation's lift is isolated) against
    the exact brute-force top-10 for the probe query set — the tuning
    number for tables/planes/nprobe that VERDICT r10 #5 flagged as
    missing.  Every path is oracle-reproducible, so the recall itself
    is deterministic: the oracle replays all nine pipelines and the
    same hit-join/ratio.  See
    operators/similarity.py::ann_recall_report."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    opq = _opq_model_for(spark, sf_dir)
    return sim.ann_recall_report(
        queries,
        e,
        k=_RECALL_K,
        pq_books=_pq_books_for(spark, sf_dir),
        res_books=_res_books_for(spark, sf_dir),
        opq_rot=opq["rot"],
        opq_books=opq["books"],
    )


# ---------------------------------------------------------------------------
# Copy validation (operators/validate.py): migration-fidelity checks the
# reference lacks (its whole verification story is a row-count compare,
# REF/util/ConverterUtils.java:193-216).
# ---------------------------------------------------------------------------

_CANON = {
    "region": ("concat(CAST(r_regionkey AS VARCHAR), ':', r_name)",),
    "nation": (
        "concat(CAST(n_nationkey AS VARCHAR), ':', n_name, ':', CAST(n_regionkey AS VARCHAR))",
    ),
    "supplier": (
        "concat(CAST(s_suppkey AS VARCHAR), ':', s_name, ':', CAST(s_nationkey AS VARCHAR))",
    ),
}


def _spark_canon(table: str) -> F.Column:
    cols = {
        "region": ["r_regionkey", "r_name"],
        "nation": ["n_nationkey", "n_name", "n_regionkey"],
        "supplier": ["s_suppkey", "s_name", "s_nationkey"],
    }[table]
    return F.concat_ws(":", *[F.col(c).cast("string") for c in cols])


@register(
    "validate_table_checksums",
    oracle=" UNION ALL ".join(
        vd.checksum_sql(t, expr[0]) for t, expr in _CANON.items()
    ),
)
def validate_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksums of three tables in one frame —
    the copy-validation primitive: a source checksum and a destination
    checksum computed independently (no co-location, one scan each,
    16-byte partial sums) compare as two rows.  Canonical strings use
    only int/string columns so the rendering is engine-portable."""
    out = None
    for t in _CANON:
        piece = vd.table_checksum(load_table(spark, sf_dir, t), _spark_canon(t), t)
        out = piece if out is None else out.unionByName(piece)
    return out


@register(
    "validate_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT s_suppkey, s_name, s_nationkey FROM supplier),
    new AS (
      SELECT s_suppkey, s_name,
             CASE WHEN s_suppkey % 7 = 0 THEN (s_nationkey + 1) % 25
                  ELSE s_nationkey END AS s_nationkey
      FROM supplier WHERE s_suppkey % 13 <> 0
      UNION ALL
      SELECT s_suppkey + 500000, s_name, s_nationkey
      FROM supplier WHERE s_suppkey % 11 = 0)
    SELECT COALESCE(o.s_suppkey, n.s_suppkey) AS s_suppkey,
           CASE WHEN o.s_suppkey IS NULL THEN 'insert'
                WHEN n.s_suppkey IS NULL THEN 'delete'
                WHEN o.s_name IS DISTINCT FROM n.s_name
                     OR o.s_nationkey IS DISTINCT FROM n.s_nationkey
                  THEN 'update' END AS change
    FROM old o FULL OUTER JOIN new n ON o.s_suppkey = n.s_suppkey
    WHERE o.s_suppkey IS NULL OR n.s_suppkey IS NULL
          OR o.s_name IS DISTINCT FROM n.s_name
          OR o.s_nationkey IS DISTINCT FROM n.s_nationkey
    """,
)
def validate_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff as a validation operator: a derived 'later' supplier
    snapshot (every 13th key dropped → delete, every 7th renationed →
    update, every 11th re-inserted under a shifted key → insert) diffed
    against the original.  Spark ships one 60-bit content hash per side
    through the full-outer join; the oracle compares columns directly —
    same classification, which is exactly what the hash is for."""
    old = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    new = old.filter(F.col("s_suppkey") % 13 != 0).withColumn(
        "s_nationkey",
        F.when(F.col("s_suppkey") % 7 == 0, (F.col("s_nationkey") + 1) % 25).otherwise(
            F.col("s_nationkey")
        ),
    )
    new = new.unionByName(
        old.filter(F.col("s_suppkey") % 11 == 0).withColumn(
            "s_suppkey", F.col("s_suppkey") + F.lit(500000)
        )
    )
    content = F.concat_ws(":", F.col("s_name"), F.col("s_nationkey").cast("string"))
    return vd.snapshot_diff(old, new, ["s_suppkey"], content)


@register(
    "validate_fk_orphans",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 3 <> 0)
    """,
)
def validate_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity probe: orders whose customer is missing from
    a damaged parent snapshot (every 3rd customer key removed).  The
    parent side reduces to its distinct key column before the anti join,
    so a wide parent contributes only keys to the broadcast/shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    parent = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    return vd.fk_orphans(orders, parent, ["o_custkey"], ["c_custkey"]).select(
        "o_orderkey", "o_custkey"
    )


@register(
    "validate_column_profile",
    oracle="""
    SELECT 'n_name' AS column_name,
           COUNT(*) FILTER (WHERE n_name IS NULL) AS n_nulls,
           COUNT(DISTINCT n_name) AS n_distinct,
           CAST(MIN(n_name) AS VARCHAR) AS min_value,
           CAST(MAX(n_name) AS VARCHAR) AS max_value
    FROM nation
    UNION ALL
    SELECT 'n_nationkey',
           COUNT(*) FILTER (WHERE n_nationkey IS NULL),
           COUNT(DISTINCT n_nationkey),
           CAST(MIN(n_nationkey) AS VARCHAR),
           CAST(MAX(n_nationkey) AS VARCHAR)
    FROM nation
    UNION ALL
    SELECT 'n_regionkey',
           COUNT(*) FILTER (WHERE n_regionkey IS NULL),
           COUNT(DISTINCT n_regionkey),
           CAST(MIN(n_regionkey) AS VARCHAR),
           CAST(MAX(n_regionkey) AS VARCHAR)
    FROM nation
    """,
)
def validate_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile of nation (nulls / distinct / min /
    max) — the DatabaseMetaData-style facts computed from the data
    itself.  N columns become 4·N aggregates over ONE scan, then a
    stack() unpivot; min/max are computed typed and rendered as strings
    (int and string columns only, so rendering is engine-portable)."""
    n = load_table(spark, sf_dir, "nation")
    return vd.profile_table(
        n,
        {
            "n_name": F.col("n_name"),
            "n_nationkey": F.col("n_nationkey"),
            "n_regionkey": F.col("n_regionkey"),
        },
    )


@register(
    "validate_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS class_size,
           COUNT(*) >= 10 AS k_anonymous
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def validate_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table over the (nationkey,
    mktsegment) quasi-identifier pair — the privacy gate a data release
    runs BESIDE value-level PII redaction (text_pii_* masks the values;
    this catches re-identification by LINKING quasi-identifiers,
    Sweeney 2002): every equivalence class with its size and the k = 10
    verdict; the fixture yields both passing and violating classes, so
    the gate provably fires both ways.  One grouped exact-integer count
    — the shuffle carries one row per class.  See
    operators/validate.py::k_anonymity_report."""
    c = load_table(spark, sf_dir, "customer")
    return vd.k_anonymity_report(c, ["c_nationkey", "c_mktsegment"], k=10)


# ---------------------------------------------------------------------------
# Corpus composition reporting — the "data mixture" views every training
# pipeline keeps alongside selection.
# ---------------------------------------------------------------------------


@register(
    "select_mix_report",
    oracle=f"""
    WITH f AS (SELECT lang, CAST(len({_TOKS_SQL}) AS BIGINT) AS n FROM documents),
    p AS (SELECT lang, COUNT(*) AS n_docs, SUM(n) AS n_tokens FROM f GROUP BY lang)
    SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE), 6)
             AS doc_share,
           ROUND(CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6)
             AS token_share
    FROM p
    """,
)
def select_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture report: per-language document and token counts plus
    corpus shares — the composition view that drives sampling-rate
    decisions.  One groupBy over staged token counts; the global share
    window runs over the POST-aggregation frame (one row per language —
    metadata scale), never over the data."""
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "documents")
        .select("lang", tx.tokens("text").alias("__toks"))
        .select("lang", F.size("__toks").cast("long").alias("__n"))
    )
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("__n").alias("n_tokens")
    )
    w = Window.partitionBy()
    return per.select(
        "lang",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("doc_share"),
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w).cast("double"), 6
        ).alias("token_share"),
    )


@register(
    "select_mixture_waterfill",
    oracle=f"""
    WITH f AS (SELECT source, CAST(len({_TOKS_SQL}) AS BIGINT) AS n FROM documents),
    p AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens FROM f GROUP BY source),
    c0 AS (SELECT source, n_tokens,
                  CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
                    AS weight_micro,
                  CAST((n_tokens * 1200000) // 1000000 AS BIGINT) AS cap_tokens
           FROM p),
    -- zero-token sources route around the waterfill (operator contract:
    -- alloc 0, 0 epochs, unsaturated; their 0/0 λ would poison the sort)
    zz AS (SELECT source, n_tokens, weight_micro, cap_tokens,
                  FALSE AS saturated,
                  CAST(0.0 AS DOUBLE) AS alloc_tokens,
                  CAST(0.0 AS DOUBLE) AS epochs
           FROM c0 WHERE n_tokens <= 0),
    c AS (SELECT * FROM c0 WHERE n_tokens > 0),
    t AS (SELECT SUM(weight_micro) AS w, SUM(cap_tokens) AS cc,
                 (SUM(n_tokens) * 23) // 20 AS b
          FROM c),
    s AS (SELECT c.*, t.w, t.b,
                 COALESCE(SUM(cap_tokens) OVER (
                   ORDER BY CAST(cap_tokens AS DOUBLE)
                            / CAST(weight_micro AS DOUBLE), source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumcap,
                 COALESCE(SUM(weight_micro) OVER (
                   ORDER BY CAST(cap_tokens AS DOUBLE)
                            / CAST(weight_micro AS DOUBLE), source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumw
          FROM c, t),
    x AS (SELECT *,
                 CAST(cap_tokens AS HUGEINT) * (w - cumw)
                   < CAST(weight_micro AS HUGEINT) * (b - cumcap) AS saturated
          FROM s),
    k AS (SELECT COALESCE(SUM(CASE WHEN saturated THEN cap_tokens END), 0)
                   AS satcap,
                 COALESCE(SUM(CASE WHEN saturated THEN weight_micro END), 0)
                   AS satw
          FROM x),
    o AS (SELECT source, n_tokens, weight_micro, cap_tokens, saturated,
                 CASE WHEN saturated THEN CAST(cap_tokens AS DOUBLE)
                      WHEN w = satw THEN CAST(cap_tokens AS DOUBLE)
                      ELSE ROUND(CAST(weight_micro AS DOUBLE)
                                 * CAST(b - satcap AS DOUBLE)
                                 / CAST(w - satw AS DOUBLE), 6)
                 END AS alloc_tokens
          FROM x, k)
    SELECT source, n_tokens, weight_micro, cap_tokens, saturated,
           alloc_tokens,
           ROUND(alloc_tokens / CAST(n_tokens AS DOUBLE), 6) AS epochs
    FROM o
    UNION ALL SELECT * FROM zz
    """,
)
def select_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped-proportional mixture allocation: per-source token budgets
    under a √n temperature target, a 1.15-epoch total budget, and a
    1.2-epoch per-source repeat cap — water-filling's closed form via
    one ordered window over the per-source frame (see
    operators/selection.py::mixture_waterfill for the algebra and the
    exactness contract).  The allocation-sheet every mixture design
    produces before sampling rates are set; sources whose cap binds
    report saturated = true and epochs = 1.2.

    Scale: the grouped count is the only data pass (map-side combine);
    everything after runs on the per-source metadata frame."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("source", tx.tokens("text").alias("__toks"))
        .select("source", F.size("__toks").cast("long").alias("__n"))
        .groupBy("source")
        .agg(F.sum("__n").alias("n_tokens"))
    )
    return sel.mixture_waterfill(counts, "source", "n_tokens")


@register(
    "text_vocab_df",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    e AS (SELECT DISTINCT doc_id, unnest(t) AS token FROM tk),
    c AS (SELECT token, COUNT(*) AS df FROM e GROUP BY token),
    r AS (SELECT token, df, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS rk FROM c)
    SELECT token, CAST(df AS BIGINT) AS df, CAST(rk AS BIGINT) AS rank
    FROM r WHERE rk <= 50
    """,
)
def text_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency vocabulary: top-50 tokens by the number of
    documents containing them (df, not term frequency) — the first step
    of vocab induction and stopword discovery.  Distinct (doc, token)
    pairs → token groupBy; the final top-50 window runs over the
    vocab-sized aggregate, not the corpus."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    pairs = (
        d.select("doc_id", tx.tokens("text").alias("__toks"))
        .select("doc_id", F.explode("__toks").alias("token"))
        .dropDuplicates(["doc_id", "token"])
    )
    df_counts = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.orderBy(F.desc("df"), F.asc("token"))
    return (
        df_counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 50)
        .select("token", F.col("df").cast("long").alias("df"), "rank")
    )


@register(
    "join_doc_embedding_features",
    oracle=f"""
    SELECT d.doc_id, d.lang,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
           ROUND(sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))), 6)
             AS embedding_l2
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def join_doc_embedding_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal enrichment: text features joined 1:1 with the
    document's embedding (norm as the stand-in embedding feature) — the
    equijoin that stitches the text and vector modalities of one corpus
    together.  Both sides are keyed by the same id; on a real layout
    this is the bucketed co-located join, and the norm folds
    left-to-right bit-identically to the oracle's list_sum."""
    from spanner_jdbc_converter_spark.functions.vector import norm

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", tx.tokens("text").alias("__toks"))
        .select("doc_id", "lang", F.size("__toks").cast("long").alias("n_tokens"))
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.round(norm(F.col("embedding")), 6).alias("embedding_l2"),
    )
    return d.join(e, on="doc_id")


#: The curation pipeline run: the three pipeline entries (packed frame,
#: stage-count report, packing invariants) all certify ONE execution, so
#: they must not each recompute the 8-stage composition (two independent
#: runs once cost 14 % of the corpus bench).  Payload: (persisted packed
#: frame, resolved stage counts).  The stage caches are released after
#: the one materializing action; only the token-budget-bounded packed
#: frame stays persisted.
@session_store("etl._PIPELINE_STORE")
def _curated(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict[str, int]]:
    from pyspark import StorageLevel

    from spanner_jdbc_converter_spark.pipeline import curate_documents

    docs = load_table(spark, sf_dir, "documents")
    out, report = curate_documents(
        docs,
        benchmark_pred=F.col("source") == "src0",
        token_budget=PIPE_TOKEN_BUDGET,
        pack_capacity=PACK_CAPACITY,
        with_counts="lazy",
    )
    packed = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # ONE action materializes the packed frame AND fires every
        # observed stage-count metric.
        packed.write.format("noop").mode("overwrite").save()
        report.resolve()
    except BaseException:
        # failed/cancelled build (e.g. a bench timeout): unpersist
        # everything so retries don't accumulate orphaned cache entries
        packed.unpersist()
        report.release()
        raise
    report.release()
    return packed, dict(report.stages)


_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

#: The pipeline's token budget — shared by the Spark execution
#: (_curated) and BOTH full-replay oracles, so a budget change stays a
#: single-point edit (same discipline as PACK_CAPACITY).
PIPE_TOKEN_BUDGET = 50_000

# The full curation-pipeline stage chain as reusable oracle CTEs
# (profile → quality → exact dedup → LSH near-dedup with the
# recursive-CTE transitive closure → decontamination → token-budget
# selection) — shared by the stage-count report oracle AND the packing
# invariants oracle so both certify the SAME composition.
_PIPE_STAGES_SQL = f"""
    f AS (
      SELECT doc_id, source, text,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
             CAST(coalesce(list_sum(list_transform({_TOKS_SQL},
                  x -> CASE WHEN x IN ({_STOPWORDS_SQL}) THEN 1 ELSE 0 END)), 0) AS BIGINT)
               AS n_stop
      FROM documents),
    q AS (
      SELECT doc_id, source, text, n_tokens,
             ROUND(
               0.4 * (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
             + 0.4 * least((CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 4, 1.0)
             + 0.2 * (1 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10, 1.0)),
             6) AS quality
      FROM f),
    flt AS MATERIALIZED (SELECT * FROM q WHERE quality >= 0.3),
    keep AS (SELECT {_NORM_SQL} AS fpr, MIN(doc_id) AS keeper
             FROM flt GROUP BY 1),
    exact AS MATERIALIZED (SELECT flt.* FROM flt
              JOIN keep ON flt.doc_id = keep.keeper),
    t2 AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM exact),
    grams2 AS (SELECT doc_id,
                      CASE WHEN len(t) >= 3 THEN {_GRAMS_SQL}
                           ELSE [{_NORM_SQL}] END AS g
               FROM t2),
    hs2 AS (SELECT doc_id, {_HASHES_SQL} AS h FROM grams2),
    sigs AS (SELECT doc_id, [{", ".join(_minhash_sig_sql())}] AS sig FROM hs2),
    bands AS (SELECT doc_id, unnest([{_lsh_band_exprs_sql()}]) AS band_key FROM sigs),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b USING (band_key)
             WHERE a.doc_id < b.doc_id),
    sym AS (SELECT id_a AS u, id_b AS v FROM cand
            UNION SELECT id_b, id_a FROM cand),
    reach(u, v) AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    losers AS (SELECT u AS doc_id FROM reach GROUP BY u
               HAVING LEAST(u, MIN(v)) <> u),
    near AS MATERIALIZED (SELECT * FROM exact
             WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
    t3 AS (SELECT doc_id, {_TOKS_SQL} AS t FROM near),
    dg AS (SELECT doc_id, unnest(list_distinct({_GRAMS_SQL})) AS gram
           FROM t3 WHERE len(t) >= 3),
    bench_ids AS (SELECT doc_id FROM near WHERE source = 'src0'),
    bgrams AS (SELECT DISTINCT gram FROM dg
               WHERE doc_id IN (SELECT doc_id FROM bench_ids)),
    cg AS (SELECT doc_id, gram FROM dg
           WHERE doc_id NOT IN (SELECT doc_id FROM bench_ids)),
    ov AS (SELECT cg.doc_id, COUNT(*) AS n, COUNT(b.gram) AS hit
           FROM cg LEFT JOIN bgrams b ON cg.gram = b.gram
           GROUP BY cg.doc_id),
    contaminated AS (SELECT doc_id FROM ov
                     WHERE ROUND(CAST(hit AS DOUBLE) / n, 6) > 0.5),
    decon AS MATERIALIZED (SELECT * FROM near
              WHERE source <> 'src0'
                AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
    selected AS (SELECT doc_id FROM (
                   SELECT doc_id,
                          SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                              ROWS UNBOUNDED PRECEDING) AS cum
                   FROM decon) WHERE cum <= {PIPE_TOKEN_BUDGET})
"""


@register(
    "pipeline_curate_report",
    oracle=f"""
    WITH RECURSIVE
    {_PIPE_STAGES_SQL}
    SELECT stage, n_rows FROM (
      SELECT 'input' AS stage, (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_rows
      UNION ALL SELECT 'quality_filter', (SELECT COUNT(*) FROM flt)
      UNION ALL SELECT 'exact_dedup', (SELECT COUNT(*) FROM exact)
      UNION ALL SELECT 'near_dedup', (SELECT COUNT(*) FROM near)
      UNION ALL SELECT 'decontaminated', (SELECT COUNT(*) FROM decon)
      UNION ALL SELECT 'token_budget', (SELECT COUNT(*) FROM selected)
      UNION ALL SELECT 'packed', (SELECT COUNT(*) FROM selected)
    )
    """,
)
def pipeline_curate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's per-stage row-count report as an
    ORACLE-PAIRED frame — the strong check the rows-only
    pipeline_curate_documents entry can't give: the oracle recomputes
    every stage of the composition from first principles (profile
    quality formula, fingerprint min-id dedup, the full
    shingle→minhash→band LSH pipeline WITH the degenerate-doc fallback,
    the transitive closure by recursive CTE, distinct-gram benchmark
    overlap, and the global token-budget prefix sum) and must agree on
    the size of every intermediate.  A hash match here certifies the
    whole 8-stage composition end-to-end, stage by stage.

    The packing stage preserves rows by construction
    (tests/test_pipeline.py), so packed = token_budget in BOTH engines
    — the oracle asserts that invariant too rather than replaying the
    packer.  Scale: every stage count rides the ONE action that
    materializes the pipeline as an observed metric
    (with_counts="lazy") — zero extra count jobs — and the stage counts
    come from the session-shared pipeline store (``_curated``), so this
    entry and pipeline_curate_documents certify ONE execution instead
    of each recomputing the 8 stages (VERDICT r6 #2)."""
    from pyspark.sql import types as T2

    stages = _curated(spark, sf_dir)[1]
    schema = T2.StructType(
        [
            T2.StructField("stage", T2.StringType()),
            T2.StructField("n_rows", T2.LongType()),
        ]
    )
    return spark.createDataFrame(list(stages.items()), schema)


_SPLIT_BUCKET_SQL = (
    "(" + md5_long_sql("concat('split:', CAST(doc_id AS VARCHAR))") + " % 100)"
)


# The selection → split → shard → greedy next-fit packing recurrence as
# reusable oracle CTEs (on top of _PIPE_STAGES_SQL): per-doc packing
# coordinates in `p`, doc identity re-attached via `rnk`.  Shared by the
# pipeline_pack_invariants oracle AND the per-doc
# pipeline_curate_documents oracle so both certify the SAME recurrence.
_PACK_RECURRENCE_SQL = f"""
    seld0 AS (
      SELECT dc.doc_id AS doc_id, d.lang, dc.n_tokens
      FROM decon dc JOIN documents d USING (doc_id)
      WHERE dc.doc_id IN (SELECT doc_id FROM selected)),
    seld AS (
      SELECT doc_id, lang, n_tokens,
             CASE WHEN {_SPLIT_BUCKET_SQL} < 10 THEN 'test'
                  WHEN {_SPLIT_BUCKET_SQL} < 20 THEN 'val'
                  ELSE 'train' END AS split,
             {_PACK_SHARD_SQL} AS shard
      FROM seld0),
    rnk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, split, shard
                                   ORDER BY doc_id) AS rn
      FROM seld),
    p(lang, split, shard, rn, n_tokens, bin_idx, bin_fill) AS (
      SELECT lang, split, shard, rn, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM rnk WHERE rn = 1
      UNION ALL
      SELECT r.lang, r.split, r.shard, r.rn, r.n_tokens,
             CASE WHEN p.bin_fill + r.n_tokens > {PACK_CAPACITY}
                  THEN p.bin_idx + 1 ELSE p.bin_idx END,
             CASE WHEN p.bin_fill + r.n_tokens > {PACK_CAPACITY}
                  THEN r.n_tokens ELSE p.bin_fill + r.n_tokens END
      FROM p JOIN rnk r ON r.lang = p.lang AND r.split = p.split
                       AND r.shard = p.shard AND r.rn = p.rn + 1)
"""


@register(
    "pipeline_pack_invariants",
    oracle=f"""
    WITH RECURSIVE
    {_PIPE_STAGES_SQL},
    {_PACK_RECURRENCE_SQL},
    per_bin AS (
      SELECT lang, split, shard, bin_idx,
             MAX(bin_fill) AS bfill, COUNT(*) AS ndocs
      FROM p GROUP BY lang, split, shard, bin_idx)
    SELECT lang, split, shard,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(ndocs) AS BIGINT) AS n_docs,
           CAST(SUM(bfill) AS BIGINT) AS sum_fill,
           CAST(MAX(bfill) AS BIGINT) AS max_fill,
           CAST(SUM(CASE WHEN bfill > {PACK_CAPACITY} AND ndocs = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize_singletons,
           CAST(SUM(CASE WHEN bfill > {PACK_CAPACITY}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize_bins
    FROM per_bin GROUP BY lang, split, shard
    """,
)
def pipeline_pack_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, split, shard) invariants of the PIPELINE's packed
    output — the value-check that upgrades the rows-only
    pipeline_curate_documents entry: bin count, total docs, Σ final bin
    fill, max final bin fill, and the oversize accounting (every bin
    over capacity must be a single oversized document — next-fit
    semantics).  The oracle replays the ENTIRE pipeline (the shared
    stage CTEs) and then the greedy next-fit recurrence per composite
    (lang, split, md5-shard) with a recursive CTE, so a hash match
    certifies the selection set, the split assignment, the shard
    hashing, AND the packing layout of the same execution the sibling
    entries certify — closing the last rows-only gap in the corpus
    (VERDICT r6 stretch #7).

    Scale: the Spark side is two grouped aggregations over the
    session-shared persisted packed frame (selection-sized, bounded by
    the token budget); no new pipeline work runs."""
    packed = _curated(spark, sf_dir)[0]
    per_bin = packed.groupBy("lang", "split", "shard", "bin_idx").agg(
        F.max("bin_fill").alias("__bf"), F.count(F.lit(1)).alias("__nd")
    )
    over = F.col("__bf") > PACK_CAPACITY
    return per_bin.groupBy("lang", "split", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("__nd").cast("long").alias("n_docs"),
        F.sum("__bf").cast("long").alias("sum_fill"),
        F.max("__bf").cast("long").alias("max_fill"),
        F.sum(F.when(over & (F.col("__nd") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_oversize_singletons"),
        F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("n_oversize_bins"),
    )


@register(
    "pipeline_curate_documents",
    oracle=f"""
    WITH RECURSIVE
    {_PIPE_STAGES_SQL},
    {_PACK_RECURRENCE_SQL}
    SELECT r.lang, r.split, r.shard, r.doc_id,
           CAST(r.n_tokens AS BIGINT) AS n_tokens,
           CAST(p.bin_idx AS BIGINT) AS bin_idx,
           CAST(p.bin_fill AS BIGINT) AS bin_fill
    FROM p JOIN rnk r ON r.lang = p.lang AND r.split = p.split
                     AND r.shard = p.shard AND r.rn = p.rn
    """,
)
def pipeline_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as a corpus entry: profile →
    quality filter → fingerprint dedup → LSH near-dedup (connected
    components) → benchmark decontamination → token-budget selection →
    deterministic split → hash-sharded packing (pipeline.py).

    Oracle-paired PER DOC (VERDICT r7 #4 — previously rows-only): the
    oracle replays the whole composition — the 8 stage CTEs including
    the recursive-CTE transitive closure, then the selection → split →
    shard → greedy next-fit recurrence (_PACK_RECURRENCE_SQL) — and
    emits one row per selected document with its packing coordinates,
    so the hash match value-checks the SELECTED SET'S CONTENTS (ids,
    splits, shards, bin indices, running fills), not just counts and
    layout aggregates.  The sibling pipeline_curate_report /
    pipeline_pack_invariants entries certify the same session-shared
    execution's stage counts and per-bin invariants.

    Scale: the Spark side is the session-shared persisted packed frame
    (selection-sized, token-budget-bounded) — no new pipeline work; the
    all-at-once recursive replay exists only oracle-side."""
    return _curated(spark, sf_dir)[0]


_CAP_KEY_SQL = md5_long_sql("concat('cap:', source, ':', CAST(doc_id AS VARCHAR))")


@register(
    "select_source_cap",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY {_CAP_KEY_SQL}, doc_id) AS rk
      FROM documents)
    SELECT doc_id, source FROM r WHERE rk <= 15
    """,
)
def select_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (≤15 docs/source by portable md5-hash
    order) — the "downsample the over-represented source" curation
    stage.  Deterministic across runs/engines, and a uniform hash
    sample within each group so capping doesn't bias the kept
    distribution.  The oracle's per-group window is the semantic spec;
    the Spark side routes through banded_rank so no group ever sorts in
    one task (operators/selection.py::per_group_cap)."""
    d = load_table(spark, sf_dir, "documents")
    return sel.per_group_cap(d, "source", "doc_id", 15).select("doc_id", "source")


_INC_NORM_SQL = _NORM_SQL  # normalized fingerprint text, shared with survivors


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH RECURSIVE
    bset AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
    cset AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
    cfp AS (SELECT DISTINCT md5({_INC_NORM_SQL}) AS fp FROM cset),
    bf AS (SELECT doc_id, lang, text, md5({_INC_NORM_SQL}) AS fp FROM bset),
    bnew AS (SELECT * FROM bf WHERE fp NOT IN (SELECT fp FROM cfp)),
    keep AS (SELECT fp, MIN(doc_id) AS keeper FROM bnew GROUP BY fp),
    ex AS MATERIALIZED (SELECT bnew.doc_id, bnew.lang, bnew.text
                        FROM bnew JOIN keep ON bnew.doc_id = keep.keeper),
    u AS MATERIALIZED (SELECT doc_id, text FROM cset
                       UNION ALL SELECT doc_id, text FROM ex),
    t2 AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM u),
    grams2 AS (SELECT doc_id,
                      CASE WHEN len(t) >= 3 THEN {_GRAMS_SQL}
                           ELSE [{_INC_NORM_SQL}] END AS g
               FROM t2),
    hs2 AS (SELECT doc_id, {_HASHES_SQL} AS h FROM grams2),
    sigs AS (SELECT doc_id, [{", ".join(_minhash_sig_sql())}] AS sig FROM hs2),
    bands AS MATERIALIZED (SELECT doc_id, unnest([{_lsh_band_exprs_sql()}]) AS band_key
                           FROM sigs),
    bb AS (SELECT doc_id, band_key FROM bands
           WHERE doc_id IN (SELECT doc_id FROM ex)),
    cand AS (SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS id_a,
                             GREATEST(a.doc_id, b.doc_id) AS id_b
             FROM bb a JOIN bands b USING (band_key)
             WHERE a.doc_id <> b.doc_id),
    dg AS MATERIALIZED (SELECT doc_id, list_distinct(g) AS g FROM grams2),
    ver AS MATERIALIZED (
      SELECT id_a, id_b
      FROM cand JOIN dg a ON a.doc_id = id_a JOIN dg b ON b.doc_id = id_b
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.5),
    newids AS (SELECT doc_id FROM ex),
    hitc AS (SELECT id_a AS doc_id FROM ver
             WHERE id_a IN (SELECT doc_id FROM newids)
               AND id_b NOT IN (SELECT doc_id FROM newids)
             UNION
             SELECT id_b FROM ver
             WHERE id_b IN (SELECT doc_id FROM newids)
               AND id_a NOT IN (SELECT doc_id FROM newids)),
    bbp AS (SELECT id_a, id_b FROM ver
            WHERE id_a IN (SELECT doc_id FROM newids)
              AND id_b IN (SELECT doc_id FROM newids)),
    sym AS (SELECT id_a AS u, id_b AS v FROM bbp
            UNION SELECT id_b, id_a FROM bbp),
    reach(u, v) AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    losers AS (SELECT u AS doc_id FROM reach GROUP BY u
               HAVING LEAST(u, MIN(v)) <> u)
    SELECT doc_id, lang FROM ex
    WHERE doc_id NOT IN (SELECT doc_id FROM hitc)
      AND doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a NEW batch (every 5th doc) against the
    EXISTING curated corpus (the rest) — the production increment path:
    exact fingerprints against the corpus + min-id within the batch,
    then MinHash-LSH banding whose candidate join is BATCH-SIDED (the
    corpus² pair space is never enumerated), exact-Jaccard verification
    (≥ 0.5), drop-on-corpus-hit, and connected-component min-id keeping
    among batch-batch near-dups
    (operators/dedup.py::incremental_near_dedup).

    The oracle replays every stage — both fingerprint sets, the full
    signature/banding pipeline over corpus ∪ survivors, the batch-sided
    candidate restriction, the exact verify, and the batch-only
    transitive closure by recursive CTE — so a hash match certifies the
    increment semantics end-to-end.

    The entry drives the STATE path: corpus signatures come from
    signature_state via a session-scoped persisted cache (standing in
    for the parquet store a production loop reads back — one corpus
    pass per session, every increment after it batch-sized), so the
    hash match also certifies that the cached-signature route is
    value-identical to the oracle's from-text replay.  All joins after
    banding are candidate- or batch-sized."""
    corpus, batch = _increment_split(spark, sf_dir)
    state = _incremental_corpus_state(spark, sf_dir)
    out = dd.incremental_near_dedup(corpus, batch, threshold=0.5, corpus_state=state)
    return out.select("doc_id", "lang")


def _increment_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(existing corpus, new batch): every 5th document is the batch."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") % 5 != 0), d.filter(F.col("doc_id") % 5 == 0)


#: The increment entry's corpus signature state: the in-memory stand-in
#: for the parquet signature store a production loop reads back
#: (operators/dedup.py::signature_state), so the full-corpus pass runs
#: once per session and every increment after it is batch-sized.
@session_store("etl._SIG_STATE_STORE")
def _incremental_corpus_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, _batch = _increment_split(spark, sf_dir)
    return materialized(dd.signature_state(corpus))[0]


@register(
    "dedup_source_overlap_matrix",
    oracle=f"""
    WITH t2 AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
    g AS (SELECT DISTINCT source, unnest({_GRAMS_SQL}) AS gram
          FROM t2 WHERE len(t) >= 3),
    n AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(na.n_grams AS BIGINT) AS n_a,
           CAST(nb.n_grams AS BIGINT) AS n_b,
           ROUND(COUNT(*) / CAST(LEAST(na.n_grams, nb.n_grams) AS DOUBLE), 6)
             AS containment
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    JOIN n na ON na.source = a.source
    JOIN n nb ON nb.source = b.source
    GROUP BY a.source, b.source, na.n_grams, nb.n_grams
    """,
)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    distinct word-3-grams they share, plus containment (shared /
    smaller side) — the corpus-forensics view that answers "which
    sources mirror each other" before choosing mixture weights or
    dedup order.  (Whole-doc fingerprints would be the exact-copy
    matrix; the fixture's sources share no exact copies, so the entry
    measures the shingle-level overlap production forensics actually
    use.)

    Scale: the inverted index is the DISTINCT (source, gram)
    projection, so each gram posting is bounded by |sources| — the
    pair join costs Σ_gram df_src(gram)² ≤ |sources|² per gram, never
    |docs|²; one shuffle on the gram, then a metadata-sized (pair)
    aggregation with broadcast per-source totals.  Exact integers
    except the final containment division (single IEEE op, rounded
    to 6).  Sub-3-token docs are out of scope by design (their only
    gram would be the whole text — the exact-copy signal).  Composition
    lives in operators/dedup.py::source_overlap_matrix (shared with the
    many-source scale smoke)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.source_overlap_matrix(d)
