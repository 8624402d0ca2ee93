"""Text-analysis operators over the documents table (SURVEY.md §2.11):
tokenization, token counting, quality scoring, language ID, document
fingerprinting.  All pure Catalyst expressions — the whole pipeline is
one WholeStageCodegen pass per document, embarrassingly parallel at any
scale (no shuffle until an aggregation is requested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark import session
from spanner_jdbc_converter_spark.functions.hashing import md5_long

#: Tiny per-language stopword profiles for the n-gram/stopword language-ID
#: heuristic.  Chosen from common function words; scored by *distinct*
#: overlap with the document's token set (deterministic in both engines).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour"),
    "zh": ("de5", "shi4", "bu4", "le5", "zai4", "you3", "he2", "ren2"),
}

_STOPWORDS = LANG_PROFILES["en"]


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens, empty strings dropped (split produces
    a trailing '' on trailing whitespace in both engines — filtered)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Character n-gram shingles of the lowercased text (SimHash unit)."""
    col = F.col(col) if isinstance(col, str) else col
    low = F.lower(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(low) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.substr(low, i, F.lit(n)))


def word_ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token array.

    ``toks`` should be a plain column reference: Spark evaluates
    non-lambda subexpressions inside a ``transform`` lambda once per
    element access, so passing the raw ``tokens(text)`` expression here
    re-tokenizes the document O(grams·n) times — the difference is ~100×
    on real documents.  Stage ``tokens(...)`` into a column first
    (projections with multiply-referenced non-cheap aliases are not
    collapsed, so the staging survives optimization)."""
    k = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(1)))

    def gram(i):
        g = F.element_at(toks, i)
        for j in range(1, n):
            g = F.concat(g, F.lit(" "), F.element_at(toks, i + j))
        return g

    return F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined) — the MinHash/Jaccard unit.

    The token array is let-bound via a single-element ``transform`` so it
    is evaluated ONCE per row — the optimizer cannot inline through a
    lambda binding, while a staged projection would be collapsed and the
    tokenizer re-run per element access (~5× slower measured).  Hot
    DataFrame paths should prefer dedup.shingle_rows (window-based,
    codegen'd, ~3× faster again)."""
    bound = F.transform(
        F.array(tokens(col)), lambda t: word_ngrams_from_tokens(t, n)
    )
    return F.flatten(bound)


#: GPT-2-style tokenizer approximation: contractions, letter runs, digit
#: runs, punctuation runs — each optionally absorbing one leading space.
#: Uses only regex constructs with identical leftmost-first alternation
#: semantics in Java regex (Spark) and RE2 (DuckDB oracle).
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Subword-ish token count over lowercased text (the 'BPE-ish regex'
    counting path; whitespace token counting is :func:`token_count`)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(col), F.lit(BPE_ISH_PATTERN)).cast("long")


def punct_count(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(col, F.lit(r"[^\w\s]")).cast("long")


def stopword_count_from_tokens(toks: Column, stopwords: tuple[str, ...] = _STOPWORDS) -> Column:
    """Number of token *occurrences* that are stopwords, from a STAGED
    token array — pure codegen, no interpreted array-HOF lambda.

    The tokens are joined with a double-space separator (each token then
    owns both its flanking spaces), so one non-overlapping alternation
    regex counts every stopword occurrence exactly once.  Alternation of
    escaped literal words behaves identically in Java regex and RE2, so
    the count matches the oracle's ``list_transform`` sum."""
    import re as _re

    if not stopwords:
        # '(?:)' would match every double-space token boundary and count
        # token_count-1 instead of zero
        return F.lit(0).cast("long")
    pat = " (?:" + "|".join(_re.escape(w) for w in stopwords) + ") "
    joined = F.concat(F.lit(" "), F.array_join(toks, "  "), F.lit(" "))
    return F.regexp_count(joined, F.lit(pat)).cast("long")


def stopword_count(col: Column | str, stopwords: tuple[str, ...] = _STOPWORDS) -> Column:
    """Number of token *occurrences* that are stopwords.

    Convenience single-expression form; hot projections should stage
    ``tokens(col)`` once and use :func:`stopword_count_from_tokens`."""
    return stopword_count_from_tokens(tokens(col), stopwords)


def quality_score_from_tokens(col: Column | str, toks: Column) -> Column:
    """Heuristic quality in [0,1] from a STAGED token array: length band
    + stopword presence − punctuation density.  Deterministic rational
    arithmetic, rounded to 6 digits for cross-engine hashing."""
    col = F.col(col) if isinstance(col, str) else col
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(col).cast("long")
    punct = punct_count(col)
    stop = stopword_count_from_tokens(toks)
    len_score = F.when((n_tok >= 20) & (n_tok <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_ratio = stop.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    score = 0.4 * len_score + 0.4 * F.least(stop_ratio * 4, F.lit(1.0)) + 0.2 * (1 - F.least(punct_ratio * 10, F.lit(1.0)))
    return F.round(score, 6)


def quality_score(col: Column | str) -> Column:
    """Single-expression quality score; hot projections should stage
    ``tokens(col)`` and use :func:`quality_score_from_tokens`."""
    return quality_score_from_tokens(col, tokens(col))


def lang_scores_from_tokens(toks: Column) -> list[tuple[str, Column]]:
    """Distinct-overlap score of a STAGED token array against each
    language profile."""
    out = []
    for lang, words in LANG_PROFILES.items():
        profile = F.array([F.lit(w) for w in words])
        out.append((lang, F.size(F.array_intersect(toks, profile)).cast("long")))
    return out


def lang_scores(col: Column | str) -> list[tuple[str, Column]]:
    """Distinct-overlap score against each language profile."""
    return lang_scores_from_tokens(tokens(col))


def lang_id_from_tokens(toks: Column) -> Column:
    """argmax over profiles with deterministic alphabetical tiebreak,
    'und' (undetermined) when every score is 0 — from a STAGED token
    array (the expression references it 5×; staging keeps the tokenizer
    subtree out of the plan entirely)."""
    scores = lang_scores_from_tokens(toks)
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    # ascending order + strict '>': the first (alphabetically-first)
    # max-scoring language sticks, matching the oracle's CASE order
    for lang, score in sorted(scores, key=lambda kv: kv[0]):
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


def lang_id(col: Column | str) -> Column:
    """Single-expression language ID; hot projections should stage
    ``tokens(col)`` and use :func:`lang_id_from_tokens`."""
    return lang_id_from_tokens(tokens(col))


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Gopher-style repetition quality signal: the fraction of word
    n-gram OCCURRENCES that are duplicates within the document (high →
    boilerplate/listicle/spam; a standard pre-training filter).

    The token array and the gram array are each staged once; the whole
    computation is per-row expressions — no shuffle, embarrassingly
    parallel at any scale.  Output: id, n_grams, n_dup_grams,
    dup_gram_frac (rounded 6 for cross-engine hashing)."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    grams = toks.select(
        F.col(id_col), word_ngrams_from_tokens(F.col("__toks"), n).alias("__grams")
    )
    n_g = F.size("__grams").cast("long")
    n_dup = (n_g - F.size(F.array_distinct("__grams")).cast("long"))
    return grams.select(
        F.col(id_col),
        n_g.alias("n_grams"),
        n_dup.alias("n_dup_grams"),
        F.round(
            n_dup.cast("double") / F.greatest(n_g, F.lit(1)).cast("double"), 6
        ).alias("dup_gram_frac"),
    )


def top_token_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Most-frequent-token concentration per document (top_frac ≈ 1 →
    the document is one token repeated; another standard repetition
    filter).  Ties break to the alphabetically-first token so the answer
    is deterministic on any engine.

    Plan: explode → count per (doc, token) → per-doc top-1 window: two
    hash exchanges, both keyed by document, partial-aggregated map-side,
    and carrying only (doc_id, token, count) rows.  Documents with zero
    tokens drop out (no top token exists)."""
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    ex = toks.select(
        F.col(id_col), F.size("__toks").alias("__n"), F.explode("__toks").alias("token")
    )
    cnt = ex.groupBy(id_col, "__n", "token").agg(F.count(F.lit(1)).alias("top_cnt"))
    w = Window.partitionBy(id_col).orderBy(F.desc("top_cnt"), F.asc("token"))
    return (
        cnt.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            F.col(id_col),
            F.col("token").alias("top_token"),
            F.col("top_cnt").cast("long").alias("top_cnt"),
            F.round(F.col("top_cnt").cast("double") / F.col("__n"), 6).alias("top_frac"),
        )
    )


def chunk_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token windows — the chunking step
    that turns raw documents into fixed-length training sequences (window
    ``size`` tokens, advancing ``stride``, so consecutive chunks overlap
    by ``size - stride``).

    Chunk i covers token positions [i·stride+1, i·stride+size], capped at
    the document end; chunks exist while their start position is within
    the document, so every token lands in ≥1 chunk.  The token array is
    staged once, the chunk index explodes from a sequence, and the slice/
    hash are per-row expressions — one narrow explode, no shuffle, linear
    in total output tokens at any scale.  Zero-token documents produce no
    chunks.

    Output: id, chunk_idx, n_chunk_tokens, chunk_fp (60-bit portable hash
    of the space-joined chunk — the id downstream chunk-level exact dedup
    keys on)."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks")).filter(
        F.size("__toks") > 0
    )
    last_idx = F.floor((F.size("__toks") - F.lit(1)) / F.lit(stride)).cast("int")
    ex = toks.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(F.sequence(F.lit(0), last_idx)).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, size)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        chunk.alias("__chunk"),
    ).select(
        F.col(id_col),
        "chunk_idx",
        F.size("__chunk").cast("long").alias("n_chunk_tokens"),
        md5_long(F.array_join(F.col("__chunk"), " ")).alias("chunk_fp"),
    )


def normalized_text(col: Column | str) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, trim."""
    col = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 hex of the normalized text (hex string —
    portable across engines)."""
    return F.md5(normalized_text(col).cast("binary"))


def fingerprint_long(col: Column | str) -> Column:
    """60-bit integer form of the fingerprint (rolling-hash analog)."""
    return md5_long(normalized_text(col))


def document_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document feature frame: token/char/punct/stopword
    counts, quality, language, fingerprint.

    The token array is staged in its own projection and every feature
    derives from the staged column, so the plan carries exactly ONE
    tokenizer subtree (the staged alias is multiply-referenced and
    non-cheap, so CollapseProject keeps the projection barrier)."""
    toks = F.col("__tokens")
    return df.select("*", tokens(text_col).alias("__tokens")).select(
        *df.columns,
        F.size(toks).cast("long").alias("n_tokens"),
        punct_count(text_col).alias("n_punct"),
        stopword_count_from_tokens(toks).alias("n_stopwords"),
        quality_score_from_tokens(text_col, toks).alias("quality"),
        lang_id_from_tokens(toks).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Frequency-ranked vocabulary over the corpus: every token with at
    least ``min_count`` occurrences, assigned a contiguous 1-based id
    by (count DESC, token ASC) — the word→id table an LLM tokenizer
    training step starts from.

    Scale: the global frequency rank is computed WITHOUT a
    single-partition window — tokens band by count bit-length (band =
    len(bin(count)), monotone in count, ≤ 64 bands), per-band offsets
    come from a metadata-sized count frame, and the within-band
    row_number partitions by band.  A billion-token vocabulary ranks
    with the same plan shape.

    Output: token, n_occurrences, token_id."""
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    t = counts.withColumn("_band", F.length(F.bin(F.col("n_occurrences"))))
    band_counts = t.groupBy("_band").agg(F.count(F.lit(1)).alias("_n"))
    w_off = (
        Window.orderBy(F.desc("_band")).rowsBetween(Window.unboundedPreceding, -1)
    )  # ≤ 64 rows: metadata-scale window
    offsets = band_counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).cast("long")
    ).select("_band", "_off")
    w_in = Window.partitionBy("_band").orderBy(
        F.desc("n_occurrences"), F.asc("token")
    )
    return (
        t.join(F.broadcast(offsets), "_band")
        .withColumn("token_id", F.col("_off") + F.row_number().over(w_in))
        .drop("_band", "_off")
    )


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents against a built vocabulary: one output row per
    in-vocabulary token occurrence — (doc_id, pos, token_id), pos
    1-based over the document's token stream (out-of-vocabulary tokens
    drop, the standard min-count tokenizer behavior).

    Scale: explode + hash join on the token key; the vocab side shuffles
    once and is far smaller than the corpus (broadcast when it fits —
    left to the optimizer/AQE, which sees its real size)."""
    et = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("__p", "token")
    ).select(F.col(id_col), (F.col("__p") + 1).alias("pos"), "token")
    return et.join(vocab.select("token", "token_id"), on="token").select(
        id_col, "pos", "token_id"
    )


# -- BPE merge learning ------------------------------------------------------

#: Fixed merge-round count so the DuckDB oracle unrolls the identical
#: computation (the kmeans/pagerank convention).
BPE_MERGE_ROUNDS = 6


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = BPE_MERGE_ROUNDS,
) -> DataFrame:
    """Learn the first ``rounds`` BPE merge rules from the corpus —
    tokenizer induction, distributed: the classic word-frequency BPE
    loop (Sennrich et al. 2016, arXiv:1508.07909) where each round
    counts adjacent symbol pairs weighted by word frequency, picks the
    most frequent pair (ties → lexicographically smallest), and applies
    the merge greedily left-to-right inside every word.

    Scale: everything after the one corpus tokenize/count pass operates
    on the VOCABULARY frame (distinct words + counts) — millions of
    rows at 100 TB, not billions; each round is one (a, b) grouped sum
    with map-side combine, a metadata-sized arg-min, and a broadcast
    one-row cross join carrying the chosen pair into the per-word merge
    fold (expression-only — no UDF).  The arg-min rides
    ``min(struct(-count, a, b))`` so the shuffle reduces map-side.

    Determinism: exact integer pair counts, binary string tie-break —
    the oracle replays every round with a recursive-CTE merge walk that
    performs the identical greedy fold.

    The symbol frame is checkpointed each round — the next round's pair
    count AND fold both consume it, and the lazy tower would otherwise
    recompute the whole prefix per round.

    Output: (rank, left_sym, right_sym, merged, pair_count), one row
    per learned merge, rank 1..rounds."""
    return bpe_learn(df, text_col, rounds)[0]


def bpe_segment(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = BPE_MERGE_ROUNDS,
) -> DataFrame:
    """Apply the ``rounds`` BPE merges :func:`bpe_merges` learns to the
    vocabulary — the tokenizer's APPLY side: each word's final subword
    segmentation after the learned merges, with its corpus frequency.
    (The learn loop already folds each winning merge into the symbol
    frame; this returns that frame instead of the merge table.)

    Output: (w, cnt, n_pieces, segmentation) — segmentation is the
    space-joined subword sequence, n_pieces its length."""
    return bpe_learn(df, text_col, rounds)[1]


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = BPE_MERGE_ROUNDS,
) -> tuple[DataFrame, DataFrame]:
    """One BPE learn loop, BOTH outputs: (merge table, segmentation) —
    callers that need the rules and the segmented vocabulary (the two
    corpus entries) share the checkpointed round stages instead of
    running the loop twice."""
    merge_rows, seq = _bpe_rounds(df, text_col, rounds)
    merges = merge_rows[0]
    for m in merge_rows[1:]:
        merges = merges.unionByName(m)
    segment = seq.select(
        "w",
        "cnt",
        F.size("syms").cast("long").alias("n_pieces"),
        F.concat_ws(" ", "syms").alias("segmentation"),
    )
    return merges, segment


def _bpe_rounds(df, text_col, rounds):
    """The shared BPE learn loop: returns (per-round one-row merge
    frames, final symbol frame with all merges applied)."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seq = words.select(
        "w",
        "cnt",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ).alias("syms"),
    )
    merge_rows = []
    for r in range(1, rounds + 1):
        (seq,) = session.stage(seq)
        pair_idx = F.when(
            F.size("syms") > 1, F.sequence(F.lit(1), F.size("syms") - 1)
        ).otherwise(F.expr("CAST(array() AS array<int>)"))
        pairs = seq.select(
            F.col("cnt"),
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.struct(
                        F.element_at(F.col("syms"), i).alias("a"),
                        F.element_at(F.col("syms"), i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        pcnt = pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
            F.sum("cnt").alias("pcnt")
        )
        best = (
            pcnt.agg(
                F.min(
                    F.struct((-F.col("pcnt")).alias("n"), F.col("a"), F.col("b"))
                ).alias("m")
            )
            .select(
                F.col("m.a").alias("__ma"),
                F.col("m.b").alias("__mb"),
                F.concat(F.col("m.a"), F.col("m.b")).alias("__merged"),
                (-F.col("m.n")).alias("__pcnt"),
            )
            # No pairs left (all words single-symbol): the global agg yields
            # one all-null row — drop it so this round emits nothing, like
            # the oracle's LIMIT 1 over an empty pair frame.
            .where(F.col("__pcnt").isNotNull())
        )
        merge_rows.append(
            best.select(
                F.lit(r).cast("long").alias("rank"),
                F.col("__ma").alias("left_sym"),
                F.col("__mb").alias("right_sym"),
                F.col("__merged").alias("merged"),
                F.col("__pcnt").alias("pair_count"),
            )
        )
        fold = F.aggregate(
            F.col("syms"),
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.col("__ma"))
                & (x == F.col("__mb")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.col("__merged"))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        # LEFT join against the 0-or-1-row winner frame: with a winner the
        # fold applies to every word; with merges exhausted (empty best) a
        # cross join would wipe the vocabulary — the segmentation must
        # instead carry through unchanged.
        seq = seq.join(F.broadcast(best), F.lit(True), "left").select(
            "w",
            "cnt",
            F.when(F.col("__ma").isNotNull(), fold)
            .otherwise(F.col("syms"))
            .alias("syms"),
        )
    return merge_rows, seq


# -- Unigram-LM (SentencePiece-style) tokenizer ------------------------------

#: Unigram-LM defaults: 512 seed substrings pruned to 384 then 256 over
#: two hard-EM rounds, pieces up to 3 chars.
UNIGRAM_SEED_KEEP = 512
UNIGRAM_PRUNES = (384, 256)
UNIGRAM_MAX_PIECE = 3


def _greedy_segment_udf(vocab: set, max_piece: int):
    """Arrow-batched greedy-longest segmentation against a fixed piece
    vocabulary (the decoding rule of the hard-EM loop below): at each
    position take the LONGEST vocab piece that matches — unique, so no
    tie-break is ever needed; single characters are always in the
    vocabulary, so every word segments.  A boundary try never matches a
    shorter piece: a length-L candidate is only tested when L full
    characters remain (the oracle's join guards replay this)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    vs = frozenset(vocab)

    def _impl(col):
        def seg(w):
            out = []
            pos, n = 0, len(w)
            while pos < n:
                for L in range(max_piece, 0, -1):
                    if pos + L <= n and w[pos : pos + L] in vs:
                        out.append(w[pos : pos + L])
                        pos += L
                        break
                else:  # unreachable by construction (chars ⊆ vocab)
                    out.append(w[pos])
                    pos += 1
            return out

        return col.map(seg)

    _impl.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf(_impl, "array<string>")


def unigram_lm_learn(
    df: DataFrame,
    text_col: str = "text",
    seed_keep: int = UNIGRAM_SEED_KEEP,
    prunes: tuple = UNIGRAM_PRUNES,
    max_piece: int = UNIGRAM_MAX_PIECE,
) -> tuple[DataFrame, DataFrame]:
    """Unigram-LM subword tokenizer, SentencePiece-style (Kudo 2018,
    arXiv:1804.10959), learned as fixed-round HARD-EM with
    greedy-longest decoding — the second tokenizer family beside BPE,
    so the fertility data card can compare the two (the decision it
    exists to inform).

    Honest simplifications vs full SentencePiece, stated not hidden:
    the E-step decodes greedily-longest instead of Viterbi-by-
    likelihood (unique → zero tie ambiguity across engines), and the
    M-step prunes by weighted piece USAGE rather than likelihood loss.
    The loop: seed with the ``seed_keep`` most frequent substrings
    (length ≤ ``max_piece``, count-weighted, ties lexicographic) plus
    ALL single characters (coverage guarantee); per round, segment the
    word-frequency frame with the current vocabulary, count piece usage
    weighted by word count, keep the top ``prunes[i]`` plus characters;
    after the last prune, one final segmentation yields the model —
    (piece, n_used, ln_prob) with ln_prob = round(ln(n_used/total), 6),
    the bigram-surprisal ln ladder.

    Determinism: seeds/usage are exact integers; top-K selection is
    (count DESC, piece ASC) via TakeOrdered; decoding is unique; the
    one float is the final rounded ln — so the DuckDB oracle unrolls
    every round (recursive-CTE greedy walk per round, the k-means CTE
    discipline).

    Scale: everything after the one corpus tokenize/count pass operates
    on the VOCABULARY frame; the piece vocabulary is bounded (≤ 512+
    |chars|) and rides driver-side as a closure set (the k-means
    centroid-literal discipline); each round is one Arrow-batched
    segmentation pass + one map-side-combined usage count + one
    TakeOrdered top-K.  The words frame (reused every round) and the
    final segmentation (feeds both outputs) are checkpointed.

    Returns (pieces, segment): pieces = (piece, n_used, ln_prob);
    segment = (w, cnt, n_pieces, segmentation)."""
    spark = df.sparkSession

    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    (words,) = session.stage(words)

    def sub_pieces(length: int):
        return F.when(
            F.length("w") >= length,
            F.transform(
                F.sequence(F.lit(1), F.length("w") - length + 1),
                lambda i: F.col("w").substr(i, F.lit(length)),
            ),
        ).otherwise(F.expr("CAST(array() AS array<string>)"))

    seedc = (
        words.select(
            "cnt",
            F.explode(
                F.flatten(
                    F.array(*[sub_pieces(L) for L in range(1, max_piece + 1)])
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
    )
    top = seedc.orderBy(F.desc("c"), F.asc("piece")).limit(seed_keep)
    chars = sorted(
        r.piece
        for r in seedc.filter(F.length("piece") == 1).select("piece").collect()
    )
    char_set = set(chars)
    vocab = {r.piece for r in top.select("piece").collect()} | char_set

    empty = (
        words.take(1) == []
    )  # empty corpus: skip the rounds, return empty shells
    if empty:
        pieces = spark.createDataFrame(
            [], "piece string, n_used long, ln_prob double"
        )
        segment = spark.createDataFrame(
            [], "w string, cnt long, n_pieces long, segmentation string"
        )
        return pieces, segment

    def segment_with(v: set) -> DataFrame:
        return words.select(
            "w",
            "cnt",
            _greedy_segment_udf(v, max_piece)(F.col("w")).alias("pieces"),
        )

    def usage_of(segf: DataFrame) -> DataFrame:
        return (
            segf.select("cnt", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("cnt").alias("n_used"))
        )

    for target in prunes:
        keep = (
            usage_of(segment_with(vocab))
            .orderBy(F.desc("n_used"), F.asc("piece"))
            .limit(target)
        )
        vocab = {r.piece for r in keep.select("piece").collect()} | char_set

    (segf,) = session.stage(segment_with(vocab))
    usage = usage_of(segf)
    total = usage.agg(F.sum("n_used").alias("__total"))
    pieces = (
        usage.crossJoin(F.broadcast(total))
        .select(
            "piece",
            "n_used",
            F.round(F.log(F.col("n_used") / F.col("__total")), 6).alias(
                "ln_prob"
            ),
        )
    )
    segment = segf.select(
        "w",
        "cnt",
        F.size("pieces").cast("long").alias("n_pieces"),
        F.concat_ws(" ", "pieces").alias("segmentation"),
    )
    return pieces, segment


# -- Cross-doc boilerplate span scrubbing ------------------------------------

#: Span length and document-frequency threshold for boilerplate: a word
#: n-gram appearing in >= BOILER_MIN_DF distinct docs is template text
#: (headers, footers, license blurbs), not content.
BOILER_NGRAM = 4
BOILER_MIN_DF = 3


def boilerplate_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = BOILER_NGRAM,
    min_df: int = BOILER_MIN_DF,
) -> DataFrame:
    """Remove cross-document boilerplate SPANS from every document and
    reassemble the text — the sub-document cleanup between line-dedup
    and whole-doc dedup in web-corpus pipelines (C4/RefinedWeb-style):
    repeated headers/footers/navigation/license text recurs VERBATIM
    across many otherwise-distinct documents, survives whole-doc
    fingerprints, and inflates n-gram counts downstream.

    A word is removed iff ANY ``ngram``-span covering it appears in
    >= ``min_df`` distinct documents; the surviving words re-join in
    order.  Deterministic — no scoring, no floats.

    Scale: one shingle pass (the shared :func:`~.dedup.shingle_rows`
    window pipeline, positions kept) → one groupBy(span-hash) shuffle
    for document frequencies → the boilerplate hash set BROADCASTS
    (high-df spans are few by definition — df >= min_df bounds the set
    by corpus_spans / min_df) → hit starts aggregate per doc on the
    shingle frame's existing id partitioning → one broadcast-start-list
    join back to the docs, where an expression-only indexed filter
    (`F.filter(toks, (x, i) -> ...)` + `F.exists`) rebuilds the text.
    No UDFs, no corpus-sized driver state.

    Output: (id, n_tokens, n_removed, clean_text)."""
    boiler = boilerplate_span_hashes(df, text_col, id_col, ngram, min_df)
    starts = _boiler_starts(df, boiler, text_col, id_col, ngram)
    toks_col = tokens(text_col)
    kept = _kept_tokens(toks_col, ngram)
    return df.join(starts, on=id_col, how="left").select(
        F.col(id_col),
        F.size(toks_col).cast("long").alias("n_tokens"),
        (F.size(toks_col) - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def boilerplate_span_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = BOILER_NGRAM,
    min_df: int = BOILER_MIN_DF,
) -> DataFrame:
    """The (__h) hash set of boilerplate spans: word-``ngram`` spans
    appearing in >= ``min_df`` distinct documents.  Build once from a
    reference corpus and persist as the sidecar
    :func:`scrub_spans` (and the streaming ingest) consume."""
    sp = _span_pos_hashes(df, text_col, id_col, ngram)
    return (
        sp.dropDuplicates([id_col, "__h"])
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__h")
    )


def scrub_spans(
    df: DataFrame,
    boiler_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = BOILER_NGRAM,
) -> DataFrame:
    """Scrub a PRECOMPUTED boilerplate span-hash set (one ``__h`` column)
    out of ``text_col``, preserving every other column — the
    sidecar-driven form of :func:`boilerplate_scrub` for streaming
    ingestion and cross-corpus cleanup, where the df statistics come
    from a reference corpus rather than the frame being cleaned.

    Same plan shape as boilerplate_scrub minus the df pass: the hash
    set broadcasts onto the positioned shingle pass, start lists ride
    the id partitioning, and the indexed filter rebuilds the text in
    place."""
    starts = _boiler_starts(df, boiler_hashes, text_col, id_col, ngram)
    kept = _kept_tokens(tokens(text_col), ngram)
    out_cols = [
        F.concat_ws(" ", kept).alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return df.join(starts, on=id_col, how="left").select(*out_cols)


def _span_pos_hashes(df, text_col, id_col, ngram):
    """(id, __pos, __h) — one row per span occurrence.

    The hash is ENGINE-INTERNAL to the three scrubs (grouped MIN /
    df-count / first-occurrence window — only hash EQUALITY is ever
    consumed, no hash value reaches any output), so it need not be the
    oracle-portable md5: xxhash64 over the ``ngram`` tokens directly
    (optimization r17) skips materializing the joined span string
    (tokens are whitespace-free, so the token TUPLE and the space-joined
    string partition spans the same way).

    Hashing happens INSIDE the per-row token array (``transform`` over
    the valid start positions, ``get`` for the window of tokens) rather
    than via posexplode + ``lead`` window functions (optimization r17,
    second pass; guide §2.4 "remove shuffles outright"): the window
    form forced an Exchange(id) + Sort of every token occurrence —
    corpus-text-sized STRING rows shuffled just to line spans up —
    while the array form computes every span hash where the document
    row already sits and explodes only (pos, hash) pairs: 8 bytes per
    span reach the downstream hash-keyed exchange, never the tokens.
    Measured at sf0.1/32 cpus (isolated ×5 bench medians):
    crossdoc_scrub (ngram=32) 2.21 → 1.53 s, row sets bit-identical.
    At small ngram the interpreted transform lambda costs slightly
    more than the codegen'd leads locally (boilerplate ngram=4
    1.32 → 1.46 s interleaved A/B; intradoc ngram=3 flat) — kept
    uniform anyway because the removed exchange carries the WHOLE
    tokenized corpus text: on a cluster that is network bytes, and the
    local[32] loopback shuffle that makes the window form look cheap
    at ngram<=4 is exactly the cost a 100 TB run pays for real.

    Two correctness notes.  The token array is STAGED in its own
    projection (multiply-referenced non-cheap aliases survive
    CollapseProject) so the tokenizer runs once per row, not once per
    ``get``.  And the hash arguments are exactly the old lead columns —
    token[i+j] for j in 0..ngram-1 — so hash VALUES, not just equality
    classes, match the previous form; spans past the end (the old
    trailing-NULL-lead filter) never exist because the sequence stops
    at size-ngram, and docs with < ngram tokens take the empty-array
    branch (sequence() would count DOWNWARD for a negative span count,
    fabricating spans)."""
    gets = ", ".join(f"get(__toks, i+{j})" for j in range(ngram))
    spans_sql = (
        f"CASE WHEN size(__toks) >= {ngram} THEN "
        f"transform(sequence(0, size(__toks)-{ngram}), i -> xxhash64({gets})) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )
    staged = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    return staged.select(
        F.col(id_col), F.posexplode(F.expr(spans_sql)).alias("__pos", "__h")
    )


def _boiler_starts(df, boiler, text_col, id_col, ngram):
    """Per-doc array of boilerplate span start positions (docs with no
    hits are absent — callers left-join and coalesce)."""
    sp = _span_pos_hashes(df, text_col, id_col, ngram)
    return (
        sp.join(F.broadcast(boiler), on="__h")
        .groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__starts"))
    )


def _kept_tokens(toks_col: Column, ngram: int) -> Column:
    """Tokens NOT covered by any boilerplate span start in __starts."""
    st = F.coalesce(F.col("__starts"), F.expr("CAST(array() AS array<int>)"))
    return F.filter(
        toks_col,
        lambda x, i: ~F.exists(st, lambda s: (i >= s) & (i < s + F.lit(ngram))),
    )


#: Intra-document repetition span width.  3 keeps the fixture-positive
#: mass high; production corpora typically scrub at 5-10 (the Gopher
#: duplicate-n-gram bands) — the width is a parameter, not a policy.
INTRADOC_NGRAM = 3


def intradoc_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = INTRADOC_NGRAM,
) -> DataFrame:
    """Remove REPEATED spans within each document and reassemble the
    text — the intra-doc sibling of :func:`boilerplate_scrub` (which
    needs cross-document df evidence and so cannot see a passage pasted
    twice into ONE doc).  A word is removed iff some ``ngram``-span
    covering it is a REPEAT occurrence — its identical span text
    appeared earlier in the same document (strictly smaller start
    position).  The first occurrence always survives.  The scrub is a
    SINGLE pass against the ORIGINAL text's span positions — it is NOT
    idempotent in general (ADVICE r14): removal can create new adjacent
    repeats, e.g. at ngram=3 ``'a b a b b b b a'`` scrubs to
    ``'a b a b a'``, which a second pass would reduce further to
    ``'a b'``.  Callers wanting a fixpoint iterate externally; the
    one-pass definition is what the oracle replays and what the
    Gopher/MassiveText "remove duplicated n-gram runs" cleanup
    specifies, as a transform rather than a score.

    Scale: one positioned shingle pass (shared :func:`_span_pos_hashes`
    window pipeline), one (id, span-hash) exchange for the
    first-occurrence min, per-doc repeat-start lists on the id
    partitioning, and the same expression-only indexed rebuild as the
    boilerplate scrub — no UDFs, state bounded per document.

    Output: (id, n_tokens, n_removed, clean_text)."""
    from pyspark.sql import Window

    sp = _span_pos_hashes(df, text_col, id_col, ngram)
    w = Window.partitionBy(id_col, "__h")
    starts = (
        sp.withColumn("__first", F.min("__pos").over(w))
        .filter(F.col("__pos") > F.col("__first"))
        .groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__starts"))
    )
    toks_col = tokens(text_col)
    kept = _kept_tokens(toks_col, ngram)
    return df.join(starts, on=id_col, how="left").select(
        F.col(id_col),
        F.size(toks_col).cast("long").alias("n_tokens"),
        (F.size(toks_col) - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def crossdoc_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int | None = None,
) -> DataFrame:
    """CROSS-document exact-substring scrub (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    transform): remove every word covered by a ``ngram``-token span
    whose verbatim text also appears in an EARLIER document (smaller
    ``id_col``); the whole first-occurrence document survives untouched.
    The corpus-wide sibling of :func:`intradoc_scrub` (same-doc repeats)
    and :func:`boilerplate_scrub` (df≥3 template spans): this is the
    transform form of dedup.verbatim_span_pairs — at the default
    copy-evidence width (dedup.SPAN_NGRAM = 32 words) a hit is a copied
    passage, and here it is REWRITTEN out rather than just reported.

    Like the intra-doc scrub this is a SINGLE pass against the ORIGINAL
    corpus's span positions, not a fixpoint: reassembly can in
    principle create new 32-token coincidences, and first-occurrence
    docs keep spans that other docs lose.  One pass is the published
    semantics; iterate externally if a fixpoint is wanted.

    Scale: one positioned shingle pass; the global first-occurrence is
    a grouped MIN on the span hash (map-side combinable — NO pair join
    and no posting-list expansion, so a 100 TB corpus costs one
    hash-keyed exchange), whose output joins back on the same key (AQE
    reuses the exchange); per-doc start lists and the expression-only
    indexed rebuild ride the id partitioning.

    Output: (id, n_tokens, n_removed, clean_text)."""
    from spanner_jdbc_converter_spark.operators.dedup import SPAN_NGRAM

    n = SPAN_NGRAM if ngram is None else ngram
    sp = _span_pos_hashes(df, text_col, id_col, n)
    firsts = sp.groupBy("__h").agg(F.min(id_col).alias("__first"))
    starts = (
        sp.join(firsts, on="__h")
        .filter(F.col(id_col) > F.col("__first"))
        .groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__starts"))
    )
    toks_col = tokens(text_col)
    kept = _kept_tokens(toks_col, n)
    return df.join(starts, on=id_col, how="left").select(
        F.col(id_col),
        F.size(toks_col).cast("long").alias("n_tokens"),
        (F.size(toks_col) - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


# -- Bigram LM surprisal -----------------------------------------------------


def bigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean surprisal under the corpus's own add-one-smoothed
    bigram language model — the classic LM-based quality filter: docs far
    above the corpus mean read as noise/templates/wrong-language, far
    below as degenerate repetition (KenLM-style perplexity filtering with
    an engine-internal model, no external artifact).

    P(b|a) = (c(ab) + 1) / (c(a·) + V) with c(a·) the count of bigrams
    whose left token is `a` and V the distinct-token count; surprisal is
    −ln P averaged over the doc's bigram occurrences.

    Parity: counts are exact ints, each −ln rounds to 6 at its narrowest
    point into DECIMAL(18,6), per-doc sums accumulate in DECIMAL (order
    independent), and the final mean rounds at 6 (the zipf convention).

    Scale: one shingle-window pass yields the per-doc bigram stream; the
    corpus LM is ONE grouped count of that stream (map-side combine)
    joined to vocabulary-sized left-counts; scoring is a bigram-keyed
    shuffle join of occurrences against the LM (both sides partitioned
    by the bigram string — never a broadcast of a corpus-sized model);
    the per-doc mean rides a doc-keyed aggregation.

    Output: (id, n_bigrams, avg_surprisal)."""
    from spanner_jdbc_converter_spark.operators.dedup import shingle_rows

    bg = shingle_rows(df, text_col, id_col, 2, fallback_to_text=False).select(
        F.col(id_col), F.col("__s").alias("bg")
    )
    cab = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cab"))
    lefts = cab.select(F.split("bg", " ").getItem(0).alias("a"), "cab")
    ca = lefts.groupBy("a").agg(F.sum("cab").alias("ca"))
    v = df.select(F.explode(tokens(text_col)).alias("w")).agg(
        F.count_distinct("w").alias("v")
    )
    lm = (
        cab.withColumn("a", F.split("bg", " ").getItem(0))
        .join(ca, on="a")
        .crossJoin(F.broadcast(v))
        .select(
            "bg",
            F.round(
                -F.log(
                    (F.col("cab") + F.lit(1)).cast("double")
                    / (F.col("ca") + F.col("v")).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("nll"),
        )
    )
    per = bg.join(lm, on="bg").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("nll").alias("s")
    )
    return per.select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.round(F.col("s").cast("double") / F.col("n_bigrams"), 6).alias(
            "avg_surprisal"
        ),
    )


# ---------------------------------------------------------------------------
# Reference-corpus quality classifier + DSIR importance resampling — the
# two model-based curation stages real pretraining pipelines run after
# the heuristic filters: "does this doc look like my trusted corpus?"
# (CCNet / LLaMA-style fastText classifier, here a distributed Naive
# Bayes with the same bag-of-words decision rule) and "resample the raw
# pool toward the target distribution" (DSIR, Xie et al. 2023 — hashed
# n-gram importance weights).
# ---------------------------------------------------------------------------

#: The trusted/target corpus: docs from this source play the role
#: Wikipedia plays in CCNet's classifier and DSIR's target distribution.
REF_SOURCE = "src0"

#: DSIR hashed-bigram bucket count.  The hashing trick bounds BOTH
#: importance models to a fixed 8192-row frame regardless of corpus
#: vocabulary — small enough to broadcast, so scoring never shuffles
#: the corpus-sized n-gram stream.
DSIR_BUCKETS = 8192

#: Fraction of each source's docs kept by DSIR resampling.
DSIR_KEEP_FRAC = 0.25


def nb_model_frames(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    reference: str = REF_SOURCE,
) -> tuple[DataFrame, DataFrame]:
    """Train the add-one-smoothed multinomial Naive Bayes "reference
    source vs rest" model and return it as two frames:

    - ``weights``: (w, lw) — per-token log-likelihood ratio
      ln P(w|ref) − ln P(w|rest), DECIMAL(19,6), vocabulary-sized;
    - ``meta``: ONE row (prior, lw_oov) — the class-prior log-ratio and
      the CONSTANT log-ratio of any token unseen at training time
      (add-one smoothing gives every OOV token the same
      ln(1/(N_ref+V)) − ln(1/(N_rest+V))), which makes frozen-model
      inference over new text exact, not clipped.

    Training IS one vocab-keyed grouped count plus one-row aggregates;
    both frames are writable as parquet for frozen-model reuse (the
    streaming ingest path).  Each ln rounds to 6 at its narrowest point
    into DECIMAL(18,6) — the corpus float-parity convention."""
    dec = "decimal(18,6)"
    occ = df.select(
        (F.col(source_col) == reference).alias("_pos"),
        F.explode(tokens(text_col)).alias("w"),
    )
    wc = occ.groupBy("w").agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(1)).alias("c_rest"),
    )
    tot = wc.agg(
        F.sum("c_ref").alias("n_ref"),
        F.sum("c_rest").alias("n_rest"),
        F.count(F.lit(1)).alias("v"),
    )

    def _ll(c: Column, n: str) -> Column:
        return F.round(
            F.log(
                (c + F.lit(1)).cast("double")
                / (F.col(n) + F.col("v")).cast("double")
            ),
            6,
        ).cast(dec)

    weights = wc.crossJoin(F.broadcast(tot)).select(
        "w",
        (_ll(F.col("c_ref"), "n_ref") - _ll(F.col("c_rest"), "n_rest")).alias(
            "lw"
        ),
    )
    dc = df.agg(
        F.sum(F.when(F.col(source_col) == reference, 1).otherwise(0)).alias(
            "d_ref"
        ),
        F.sum(F.when(F.col(source_col) == reference, 0).otherwise(1)).alias(
            "d_rest"
        ),
    )
    meta = dc.crossJoin(F.broadcast(tot)).select(
        (
            F.round(F.log(F.col("d_ref").cast("double")), 6).cast(dec)
            - F.round(F.log(F.col("d_rest").cast("double")), 6).cast(dec)
        ).alias("prior"),
        (_ll(F.lit(0), "n_ref") - _ll(F.lit(0), "n_rest")).alias("lw_oov"),
    )
    return weights, meta


def nb_score_with_model(
    df: DataFrame,
    weights: DataFrame,
    meta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a (possibly frozen/stored) NB model from
    :func:`nb_model_frames`: per-doc bag-of-words log-odds, tokens
    unseen at training time scored with the model's exact OOV constant.

    Scale: occurrences LEFT-join the vocabulary-sized weight frame on
    the token key (stats/AQE pick the side — never a forced broadcast
    of a corpus-scale vocabulary); the one-row meta frame broadcasts;
    per-doc sums accumulate in DECIMAL.  Docs with zero tokens have no
    occurrences and are absent from the output.

    Output: (id, n_tokens, nb_logodds, pred_ref)."""
    occ = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
    scored = occ.join(weights, on="w", how="left").crossJoin(
        F.broadcast(meta)
    )
    per = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce(F.col("lw"), F.col("lw_oov"))).alias("s"),
        F.first("prior").alias("prior"),
    )
    return per.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round((F.col("s") + F.col("prior")).cast("double"), 6).alias(
            "nb_logodds"
        ),
        ((F.col("s") + F.col("prior")) > 0).alias("pred_ref"),
    )


def nb_model_write(weights: DataFrame, meta: DataFrame, path: str) -> None:
    """Freeze an NB model to parquet (``<path>/weights`` vocabulary
    frame + ``<path>/meta`` one-row frame) for reuse by later jobs and
    the streaming ingest path.

    Fails fast on a degenerate model: a training corpus where one class
    has zero documents or zero tokens yields NULL prior/lw_oov
    (ln(0) is NULL in Spark), and freezing that would silently filter
    EVERY later batch to nothing."""
    row = meta.collect()[0]  # one row by construction — trivial action
    if row.prior is None or row.lw_oov is None:
        raise ValueError(
            "degenerate NB model: a class has zero documents or zero "
            "tokens (prior/lw_oov is NULL) — check the reference label"
        )
    weights.write.mode("overwrite").parquet(f"{path}/weights")
    meta.write.mode("overwrite").parquet(f"{path}/meta")


def nb_model_read(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a frozen NB model written by :func:`nb_model_write`."""
    return (
        spark.read.parquet(f"{path}/weights"),
        spark.read.parquet(f"{path}/meta"),
    )


def nb_reference_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    reference: str = REF_SOURCE,
) -> DataFrame:
    """Train a add-one-smoothed multinomial Naive Bayes on "is this doc
    from the reference source?" and score EVERY document with the
    resulting bag-of-words log-odds — the engine-internal equivalent of
    the fastText quality classifier CCNet/LLaMA-style pipelines train
    on Wikipedia-vs-crawl.  Positive log-odds reads "more like the
    trusted corpus than the rest".

    Composition of :func:`nb_model_frames` (training: one vocab-keyed
    grouped count + one-row aggregates) and :func:`nb_score_with_model`
    (scoring: token-keyed stats-driven join + per-doc DECIMAL sums);
    self-scoring never hits the OOV branch, so the output is exactly
    the inner-join formulation the oracle replays.

    Output: (id, n_tokens, nb_logodds, pred_ref)."""
    weights, meta = nb_model_frames(df, text_col, source_col, reference)
    return nb_score_with_model(df, weights, meta, text_col, id_col)


def ngram_novelty(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Data-valuation novelty score for a CANDIDATE batch against the
    existing corpus: per batch doc, the fraction of its distinct word
    n-grams never seen in the corpus — near-zero means the doc is
    informationally redundant (buy/crawl something else), high means
    new material.  The n-gram-level complement of incremental dedup:
    a doc can be 40% novel yet no near-dup of anything.

    Scale: grams travel as 60-bit md5 longs (8-byte shuffle keys, not
    strings); the corpus reduces to its DISTINCT gram-hash projection
    (gram-vocabulary-sized, grows sublinearly in corpus size); the
    gram-keyed join is stats-driven (batch side is small — Catalyst
    broadcasts it; at equal sizes it degrades to a hash join, never a
    cartesian); per-doc counts ride the batch frame's id partitioning.
    Docs with < n tokens have no shingles and are absent (both engines
    agree).

    Output: (id, n_grams, n_novel, novelty)."""
    from spanner_jdbc_converter_spark.operators.dedup import shingle_rows

    bg = (
        shingle_rows(batch, text_col, id_col, ngram, fallback_to_text=False)
        .select(F.col(id_col), md5_long(F.col("__s")).alias("h"))
        .distinct()
    )
    cg = (
        shingle_rows(corpus, text_col, id_col, ngram, fallback_to_text=False)
        .select(md5_long(F.col("__s")).alias("h"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    per = (
        bg.join(cg, on="h", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("_seen").isNull(), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per.select(
        F.col(id_col),
        F.col("n_grams"),
        F.col("n_novel"),
        (
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
        ).alias("novelty"),
    )


def dsir_importance(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    target: str = REF_SOURCE,
    buckets: int = DSIR_BUCKETS,
    keep_frac: float = DSIR_KEEP_FRAC,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every doc by the log importance weight of its hashed-bigram
    features under target-vs-raw unigram-of-buckets models, then keep
    the top ``keep_frac`` of each source by weight — the "resample the
    crawl toward the trusted distribution" curation stage.

    log w(doc) = Σ_bigrams [ln p_tgt(h) − ln p_raw(h)], h = md5(bigram)
    mod ``buckets``, both models add-one smoothed.  The hashing trick is
    the scale move: the model is a FIXED 8192-row frame however large
    the corpus, so it broadcasts and scoring never shuffles the bigram
    stream.

    Parity: bucket counts exact ints; each ln rounds to 6 into
    DECIMAL(18,6); per-doc DECIMAL sums; selection is exact top
    ceil(keep_frac·n) per source by (weight desc, id asc).  Docs with
    < 2 tokens have no bigrams and are absent (both engines agree).

    Scale: ONE bucket-keyed grouped count trains both models (map-side
    combine onto ≤ 8192 keys); scoring joins the broadcast weight frame
    and aggregates per doc; the doc-count-sized per-doc frame is
    checkpointed before ranking (three downstream references — without
    it the corpus scoring re-executes per reference); the per-source
    rank rides :func:`selection.banded_rank` on exact micro-unit scores
    — no single-task per-source sort.

    Output: (id, source, n_bigrams, log_weight, selected)."""
    from spanner_jdbc_converter_spark.operators.dedup import shingle_rows
    from spanner_jdbc_converter_spark.operators.selection import banded_rank

    dec = "decimal(18,6)"
    occ = shingle_rows(
        df, text_col, id_col, 2, extra_cols=[source_col],
        fallback_to_text=False,
    ).select(
        F.col(id_col),
        F.col(source_col),
        (md5_long(F.col("__s")) % F.lit(buckets)).alias("h"),
    )
    bc = occ.groupBy("h").agg(
        F.sum(
            F.when(F.col(source_col) == target, 1).otherwise(0)
        ).alias("c_tgt"),
        F.count(F.lit(1)).alias("c_raw"),
    )
    tot = bc.agg(F.sum("c_tgt").alias("n_tgt"), F.sum("c_raw").alias("n_raw"))

    def _ll(c: str, n: str) -> Column:
        return F.round(
            F.log(
                (F.col(c) + F.lit(1)).cast("double")
                / (F.col(n) + F.lit(buckets)).cast("double")
            ),
            6,
        ).cast(dec)

    lw = bc.crossJoin(F.broadcast(tot)).select(
        "h", (_ll("c_tgt", "n_tgt") - _ll("c_raw", "n_raw")).alias("lw")
    )
    per = occ.join(F.broadcast(lw), on="h").groupBy(id_col, source_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("lw").alias("s")
    )
    # The per-doc frame feeds THREE downstream references (banded_rank's
    # count + join branches and the per-source totals); without a
    # materialization point the whole corpus-scoring pipeline re-executes
    # per reference.  The frame is doc-count-sized — checkpoint it.
    (per,) = session.stage(per)
    # Exact micro-unit integer sort key (s has 6 dp, so s·10⁶ is
    # integral); negated so ascending key = descending weight.  Value
    # bands aren't as uniform as hash bands, but correctness is exact
    # and |bands| stays bounded by the score range / 2^shift.
    t = per.withColumn(
        "_sk", (-(F.col("s") * F.lit(1_000_000))).cast("long")
    )
    r = banded_rank(t, [source_col], "_sk", id_col, shift=30)
    ns = per.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    return r.join(F.broadcast(ns), on=source_col).select(
        F.col(id_col),
        F.col(source_col),
        F.col("n_bigrams"),
        F.round(F.col("s").cast("double"), 6).alias("log_weight"),
        (
            F.col("_rk")
            <= F.ceil(F.col("_n") * F.lit(keep_frac)).cast("long")
        ).alias("selected"),
    )


#: Mixed-language window width (tokens) — long enough that the stopword
#: profiles get signal, short enough to localize a language switch.
LANG_WINDOW = 32


def mixed_lang_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = LANG_WINDOW,
) -> DataFrame:
    """Per-document language-consistency probe: language-ID every
    ``window``-token slice independently, then report the majority
    window language and the fraction of windows agreeing with it.
    Whole-doc lang-id (text_lang_id) sees only the AGGREGATE stopword
    profile — two languages concatenated (a scrape artifact, a quoted
    translation, pasted boilerplate) still score as one; windowed
    ID catches the switch, and consistency < 1 is the curation flag.

    Plan shape: the token array stages once; the window slices are an
    expression-only transform+posexplode (no shuffle); per-(doc, lang)
    window counts and the majority argmax ride ONE hash(doc_id)
    exchange (min_by over an exact (−count, lang) struct — ties break
    to the alphabetically-first language, matching the oracle's window
    rank).  Docs with zero tokens emit nothing.

    Output: (id_col, majority_lang, n_majority, n_windows,
    consistency — rounded 6)."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks")).filter(
        F.size("__toks") > 0
    )
    n_slices = F.floor((F.size("__toks") - 1) / window).cast("int")
    wins = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_slices),
                lambda i: F.slice(F.col("__toks"), i * window + 1, window),
            )
        ).alias("__wt"),
    )
    per = (
        wins.select(F.col(id_col), lang_id_from_tokens(F.col("__wt")).alias("win_lang"))
        .groupBy(id_col, "win_lang")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    top = per.groupBy(id_col).agg(
        F.min_by(
            F.struct(F.col("win_lang"), F.col("__c")),
            F.struct((-F.col("__c")).alias("nc"), F.col("win_lang")),
        ).alias("__m"),
        F.sum("__c").alias("n_windows"),
    )
    return top.select(
        F.col(id_col),
        F.col("__m.win_lang").alias("majority_lang"),
        F.col("__m.__c").alias("n_majority"),
        F.col("n_windows"),
        F.round(
            F.col("__m.__c").cast("double") / F.col("n_windows"), 6
        ).alias("consistency"),
    )
