"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure SQL (both dialects), exact arithmetic (integer counts + single
divisions), so every query is oracle-checkable. At 100 TB these are
narrow maps over the documents scan — zero shuffle, column-pruned to
``text``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from audio_feature_extraction_spark.core.arrow_lists import list_array, read_list

# tiny per-language stopword marker sets (heuristic lang-id)
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "et"),
    "de": ("der", "die", "und", "das", "ist"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _words(col: str, spark: bool) -> str:
    if spark:
        return f"filter(split({col}, ' '), w -> length(w) > 0)"
    return f"list_filter(string_split({col}, ' '), w -> length(w) > 0)"


def token_count_expr(spark: bool, col: str = "text") -> str:
    """Whitespace token count (the BPE-ish regex variant splits on
    non-alnum boundaries)."""
    fn = "size" if spark else "len"
    return f"{fn}({_words(col, spark)})"


def word_token_count_expr(spark: bool, col: str = "text") -> str:
    """BPE-ish: count alnum runs + punctuation marks as separate tokens."""
    if spark:
        return (
            f"size(filter(split(regexp_replace({col}, '([^a-zA-Z0-9 ])', ' $1 '), ' '), "
            f"w -> length(w) > 0))"
        )
    return (
        f"len(list_filter(string_split(regexp_replace({col}, "
        f"'([^a-zA-Z0-9 ])', ' \\1 ', 'g'), ' '), w -> length(w) > 0))"
    )


def quality_expr(spark: bool, col: str = "text") -> dict[str, str]:
    """Quality signals: mean word length, punctuation ratio, stopword
    ratio, alpha ratio. Exact: integer counts / one division."""
    words = _words(col, spark)
    fn, lf, lt = ("size", "filter", "transform") if spark else ("len", "list_filter", "list_transform")
    n_words = f"{fn}({words})"
    n_chars = f"length({col})"
    n_alpha = f"length(regexp_replace({col}, '[^a-zA-Z]', ''))" if spark else \
        f"length(regexp_replace({col}, '[^a-zA-Z]', '', 'g'))"
    n_punct = f"length(regexp_replace({col}, '[^.,;:!?]', ''))" if spark else \
        f"length(regexp_replace({col}, '[^.,;:!?]', '', 'g'))"
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = f"{fn}({lf}({words}, w -> lower(w) IN ({sw})))"
    sum_wlen = (
        f"aggregate({lt}({words}, w -> length(w)), 0, (a, x) -> a + x)"
        if spark
        else f"list_sum({lt}({words}, w -> length(w)))"
    )
    return {
        "n_words": f"CAST({n_words} AS BIGINT)",
        "n_chars": f"CAST({n_chars} AS BIGINT)",
        "mean_word_len": f"(CAST({sum_wlen} AS DOUBLE) / {n_words})",
        "punct_ratio": f"(CAST({n_punct} AS DOUBLE) / {n_chars})",
        "stopword_ratio": f"(CAST({n_stop} AS DOUBLE) / {n_words})",
        "alpha_ratio": f"(CAST({n_alpha} AS DOUBLE) / {n_chars})",
    }


def langid_expr(spark: bool, col: str = "text") -> str:
    """Argmax of per-language marker-word hit counts; ties resolve to the
    alphabetically-first language; zero hits -> 'und'."""
    words = _words(col, spark)
    fn, lf = ("size", "filter") if spark else ("len", "list_filter")
    scores = []
    for lang in sorted(LANG_MARKERS):
        ws = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        scores.append((lang, f"{fn}({lf}({words}, w -> lower(w) IN ({ws})))"))
    # build nested CASE: best = lang with max count (ties -> first)
    conds = []
    for lang, score in scores:
        others = [s for l2, s in scores if l2 != lang]
        gt = " AND ".join(
            f"{score} {'>=' if l2 > lang else '>'} {s}"
            for (l2, s) in [(l2, s) for l2, s in scores if l2 != lang]
        )
        conds.append(f"WHEN {score} > 0 AND {gt} THEN '{lang}'")
    return "CASE " + " ".join(conds) + " ELSE 'und' END"


def fingerprint_expr(spark: bool, col: str = "tokens") -> str:
    """Polynomial rolling hash of the token array: fold
    h = (h*31 + t) % (2^31 - 1) — order-sensitive content fingerprint
    (≙ sequential sample keys design.md:1355, but content-derived).
    Modulus keeps h*31 < 2^36, overflow-free in both engines."""
    p = (1 << 31) - 1
    if spark:
        return f"aggregate({col}, 0L, (h, t) -> (h * 31 + t) % {p}L)"
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform({col}, t -> CAST(t AS BIGINT))), "
        f"(h, t) -> (h * 31 + t) % {p})"
    )


def text_profile(docs: DataFrame) -> DataFrame:
    """One row per document with all text-analysis signals."""
    q = quality_expr(spark=True)
    cols = [f"{v} as {k}" for k, v in q.items()]
    return docs.selectExpr(
        "doc_id",
        "lang",
        f"{token_count_expr(spark=True)} as n_tokens_ws",
        f"{word_token_count_expr(spark=True)} as n_tokens_bpe",
        *cols,
        f"{langid_expr(spark=True)} as lang_pred",
    )


def text_profile_oracle_sql(from_clause: str = "documents") -> str:
    q = quality_expr(spark=False)
    cols = ", ".join(f"{v} AS {k}" for k, v in q.items())
    return (
        f"SELECT doc_id, lang, "
        f"CAST({token_count_expr(spark=False)} AS INTEGER) AS n_tokens_ws, "
        f"CAST({word_token_count_expr(spark=False)} AS INTEGER) AS n_tokens_bpe, "
        f"{cols}, {langid_expr(spark=False)} AS lang_pred "
        f"FROM {from_clause}"
    )


def vocab_stats(tokseq: DataFrame) -> DataFrame:
    """Corpus token-frequency table — the classic wordcount: explode +
    partial/final hash aggregation (map-side combine keeps the shuffle at
    |vocab| per partition, not |tokens|)."""
    return (
        tokseq.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


def vocab_stats_oracle_sql(from_clause: str = "tokseq") -> str:
    return (
        f"SELECT u.token AS token, count(*) AS freq FROM {from_clause} t, "
        f"unnest(t.tokens) AS u(token) GROUP BY 1"
    )


def bigram_stats(tokseq: DataFrame, min_freq: int = 2) -> DataFrame:
    """Corpus bigram-frequency table (co-occurrence counts). The bigram
    code packs the pair into one int64 — groupBy on a scalar, not a
    struct, halves shuffle width."""
    pairs = tokseq.selectExpr(
        "explode(transform(filter(sequence(1, size(tokens)), i -> i < size(tokens)), "
        "i -> bigint(element_at(tokens, cast(i as int))) * 32768 "
        "+ element_at(tokens, cast(i+1 as int)))) as bigram"
    )
    out = pairs.groupBy("bigram").agg(F.count("*").alias("freq"))
    return out.where(F.col("freq") >= min_freq).select(
        (F.col("bigram") / 32768).cast("int").alias("t1"),
        F.pmod("bigram", F.lit(32768)).cast("int").alias("t2"),
        "freq",
    )


def bigram_stats_oracle_sql(min_freq: int = 2, from_clause: str = "tokseq") -> str:
    return (
        f"SELECT CAST(bigram // 32768 AS INTEGER) AS t1, "
        f"CAST(bigram % 32768 AS INTEGER) AS t2, freq FROM ("
        f"SELECT u.bigram, count(*) AS freq FROM "
        f"(SELECT list_transform(range(1, len(tokens)), "
        f"i -> CAST(tokens[i] AS BIGINT) * 32768 + tokens[i+1]) AS bs "
        f"FROM {from_clause}) t, unnest(t.bs) AS u(bigram) GROUP BY 1) "
        f"WHERE freq >= {min_freq}"
    )


def doc_features(tokseq: DataFrame, n_buckets: int = 9, mult: int = 31) -> DataFrame:
    """Whole-document histogram feature (mean-pool analog done exactly:
    the sum of all per-frame count vectors IS the whole-sequence bigram
    histogram — integer-exact, no float pooling)."""
    counts = (
        f"transform(sequence(0, {n_buckets - 1}), b -> bigint(size(filter("
        f"sequence(1, size(tokens)), i -> i < size(tokens) and "
        f"(element_at(tokens, cast(i as int))*{mult} "
        f"+ element_at(tokens, cast(i+1 as int))) % {n_buckets} = b))))"
    )
    return tokseq.selectExpr("doc_id", f"{counts} as doc_histogram")


def doc_features_oracle_sql(
    n_buckets: int = 9, mult: int = 31, from_clause: str = "tokseq"
) -> str:
    counts = (
        f"list_transform(range(0, {n_buckets}), b -> CAST(len(list_filter("
        f"range(1, len(tokens)), i -> (tokens[i]*{mult} + tokens[i+1]) % {n_buckets} = b)) AS BIGINT))"
    )
    return f"SELECT doc_id, {counts} AS doc_histogram FROM {from_clause}"


def fingerprints(tokseq: DataFrame) -> DataFrame:
    return tokseq.selectExpr(
        "doc_id", f"{fingerprint_expr(spark=True)} as fingerprint"
    )


def fingerprints_oracle_sql(from_clause: str = "tokseq") -> str:
    return (
        f"SELECT doc_id, {fingerprint_expr(spark=False)} AS fingerprint "
        f"FROM {from_clause}"
    )


# ---------------------------------------------------------------------------
# repetition / boilerplate signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------
# The MassiveText/Gopher filters flag documents dominated by repeated
# lines, repeated n-grams, or a single over-represented word. All counts
# are exact integers with one final division, so the signals carry a
# full DuckDB value oracle. The per-doc line/5-gram fractions are narrow
# (array ops inside the row — no shuffle); the top-word share is one
# explode + two-level groupBy, the classic partial-agg shape.

def _rep_exprs(spark: bool, col: str = "text") -> dict[str, str]:
    nl = "chr(10)"  # '\n' literal differs between dialects; chr(10) doesn't
    if spark:
        lines = f"filter(split({col}, {nl}), l -> length(l) > 0)"
        words = f"filter(split(replace({col}, {nl}, ' '), ' '), w -> length(w) > 0)"
        nl_ = f"size({lines})"
        nw = f"size({words})"
        grams = (
            f"case when {nw} >= 5 then transform(sequence(1, {nw} - 4), "
            f"i -> concat_ws(' ', slice({words}, i, 5))) "
            f"else array() end"
        )
        dup = lambda arr, n: (  # noqa: E731
            f"case when {n} = 0 then cast(0.0 as double) else "
            f"cast({n} - size(array_distinct({arr})) as double) / {n} end"
        )
        ng = f"size({grams})"
    else:
        lines = f"list_filter(string_split({col}, {nl}), l -> length(l) > 0)"
        words = (
            f"list_filter(string_split(replace({col}, {nl}, ' '), ' '), "
            f"w -> length(w) > 0)"
        )
        nl_ = f"len({lines})"
        nw = f"len({words})"
        grams = (
            f"CASE WHEN {nw} >= 5 THEN list_transform(range(1, {nw} - 3), "
            f"i -> array_to_string(({words})[i:i+4], ' ')) "
            f"ELSE [] END"
        )
        dup = lambda arr, n: (  # noqa: E731
            f"CASE WHEN {n} = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
            f"CAST({n} - len(list_distinct({arr})) AS DOUBLE) / {n} END"
        )
        ng = f"len({grams})"
    return {
        "words": words,
        "n_lines": f"CAST({nl_} AS INTEGER)",
        "n_words": f"CAST({nw} AS INTEGER)",
        "dup_line_frac": dup(lines, nl_),
        "dup_5gram_frac": dup(grams, ng),
    }


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-doc repetition signals: duplicate-line fraction, duplicate
    word-5-gram fraction, and the most frequent word's share of all
    words (``top_word_frac`` — null for word-less docs)."""
    e = _rep_exprs(spark=True)
    base = docs.selectExpr(
        "doc_id",
        f"{e['n_lines']} as n_lines",
        f"{e['n_words']} as n_words",
        f"{e['dup_line_frac']} as dup_line_frac",
        f"{e['dup_5gram_frac']} as dup_5gram_frac",
        f"{e['words']} as _words",
    )
    counts = (
        base.select("doc_id", F.explode("_words").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    top = counts.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_word_frac"
        )
    )
    return base.drop("_words").join(top, "doc_id", "left")


def repetition_stats_oracle_sql(from_clause: str = "documents") -> str:
    e = _rep_exprs(spark=False)
    return (
        f"WITH base AS (SELECT doc_id, {e['n_lines']} AS n_lines, "
        f"{e['n_words']} AS n_words, {e['dup_line_frac']} AS dup_line_frac, "
        f"{e['dup_5gram_frac']} AS dup_5gram_frac, {e['words']} AS _words "
        f"FROM {from_clause}), "
        f"wc AS (SELECT doc_id, w.word, count(*) AS c FROM base, "
        f"unnest(_words) AS w(word) GROUP BY 1, 2), "
        f"top AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) "
        f"AS top_word_frac FROM wc GROUP BY 1) "
        f"SELECT b.doc_id, b.n_lines, b.n_words, b.dup_line_frac, "
        f"b.dup_5gram_frac, top.top_word_frac "
        f"FROM base b LEFT JOIN top USING (doc_id)"
    )


# ---------------------------------------------------------------------------
# reference-corpus bigram familiarity (CCNet-style LM quality signal)
# ---------------------------------------------------------------------------

_BIGRAMS_EXPR = (
    "transform(filter(sequence(1, size(tokens)), i -> i < size(tokens)), "
    "i -> bigint(element_at(tokens, cast(i as int))) * 32768 "
    "+ element_at(tokens, cast(i+1 as int)))"
)


def bigram_coverage(
    docs: DataFrame, reference: DataFrame, min_count: int = 2
) -> DataFrame:
    """Per-document familiarity against a REFERENCE corpus's bigram
    statistics — the exact-arithmetic analog of CCNet's LM-perplexity
    quality filter (score each doc by how typical its token
    transitions are in a trusted corpus; low familiarity = noise/
    boilerplate/foreign material, high = in-distribution text).

    Unlike a log-perplexity score this stays hash-oracle-checkable:
    every output is an integer count or a single division of integer
    sums. Per doc over ALL its bigrams (repeats count — familiarity is
    a per-token property, unlike contamination's distinct-shingle hit
    rate): ``n_bigrams``, ``n_known`` (bigrams whose reference
    frequency >= ``min_count``), ``coverage`` = n_known/n_bigrams, and
    ``mean_ref_freq`` = sum(reference freq)/n_bigrams (unseen bigrams
    contribute 0 — the add-zero analog of smoothing).

    Scale shape: the reference side reduces to its bigram-frequency
    table (8-byte codes, map-side partial agg — `bigram_stats`' shuffle)
    and the doc side equi-joins on the code: the contamination join's
    shape with counts riding along. Docs with < 2 tokens have no
    bigrams and drop out, like contamination.
    """
    ref = (
        reference.selectExpr(f"explode({_BIGRAMS_EXPR}) AS bigram")
        .groupBy("bigram")
        .agg(F.count("*").alias("_rf"))
    )
    db = docs.selectExpr(
        "doc_id", f"explode({_BIGRAMS_EXPR}) AS bigram"
    )
    return (
        db.join(ref, "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count(
                F.when(F.col("_rf") >= min_count, F.lit(1))
            ).alias("n_known"),
            F.sum(F.coalesce("_rf", F.lit(0))).alias("_sumf"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_known",
            (F.col("n_known") / F.col("n_bigrams")).alias("coverage"),
            (F.col("_sumf") / F.col("n_bigrams")).alias("mean_ref_freq"),
        )
    )


def bigram_coverage_oracle_sql(
    ref_pred: str,
    doc_pred: str,
    min_count: int = 2,
    from_clause: str = "tokseq",
    final_cte: str | None = None,
) -> str:
    """DuckDB twin of :func:`bigram_coverage` as a CTE fragment (same
    packing/arithmetic; ``final_cte`` wraps the result SELECT for
    variant-union packaging)."""
    bigrams = (
        "list_transform(range(1, len(tokens)), "
        "i -> CAST(tokens[i] AS BIGINT) * 32768 + tokens[i+1])"
    )
    sel = (
        "SELECT db.doc_id AS doc_id, count(*) AS n_bigrams, "
        f"count(CASE WHEN rf._rf >= {min_count} THEN 1 END) AS n_known, "
        f"count(CASE WHEN rf._rf >= {min_count} THEN 1 END) / count(*) "
        "AS coverage, "
        "CAST(sum(coalesce(rf._rf, 0)) AS BIGINT) / count(*) "
        "AS mean_ref_freq "
        "FROM db LEFT JOIN rf USING (bigram) GROUP BY db.doc_id"
    )
    base = (
        f"rf AS (SELECT u.bigram, count(*) AS _rf FROM "
        f"(SELECT {bigrams} AS bs FROM {from_clause} WHERE {ref_pred}) t, "
        f"unnest(t.bs) AS u(bigram) GROUP BY 1), "
        f"db AS (SELECT doc_id, u.bigram FROM "
        f"(SELECT doc_id, {bigrams} AS bs FROM {from_clause} "
        f"WHERE {doc_pred}) t, unnest(t.bs) AS u(bigram))"
    )
    if final_cte is None:
        return f"{base} {sel}"
    return f"{base}, {final_cte} AS ({sel})"


# ---------------------------------------------------------------------------
# Learned quality filter — weakly-supervised Naive Bayes over token buckets
# ---------------------------------------------------------------------------
# The heuristic filters above (quality_expr, repetition_stats,
# bigram_coverage) are fixed rules; production corpus pipelines
# (CCNet/fastText-style) additionally run a LEARNED quality classifier:
# train a tiny model on weak labels, broadcast it, score every document.
# This is that pipeline stage as a closed-form multinomial Naive Bayes:
#
# * weak label  = high-distinct-ratio heuristic (2*|distinct| >= n_tok)
#   — the usual bootstrap where a cheap rule labels the training split;
# * train split = the engine's deterministic affine doc split
#   (operators/split.py arithmetic), so training composes with S11;
# * features    = token ids hashed to NB_BUCKETS affine buckets
#   (hashing-trick vocabulary, bounded model size);
# * weights     = per-bucket add-one-smoothed log-odds, QUANTIZED to
#   integer micro-nats (floor(1e6 * ln-odds)): ln is glibc-libm on both
#   engines (Spark JVM == DuckDB, the _db_sql precedent) and floor of
#   the same double is exact, so the per-doc score is an ORDER-FREE
#   INTEGER SUM — fully hash-oracle-checkable, unlike a float log-prob
#   sum whose distributed add order would diverge.
#
# 100 TB shape: training is one groupBy over exploded train-split tokens
# with map-side partial agg onto NB_BUCKETS keys (the model reduces to
# NB_BUCKETS rows + 2 scalar rows); scoring broadcasts that weight table
# and is a narrow explode -> broadcast-join -> integer-sum per doc.
# Exactly the "train small, score everywhere" scale pattern.

NB_BUCKETS = 64
NB_MULT = 37
NB_OFF = 11
# train predicate: operators/split.py affine bucket < 80 (the 'train' split)
_NB_SPLIT = "(({id} * 9973 + 12345) % 100) < 80"
# NULL token elements are not distinct values (DuckDB's list_distinct
# drops them; Spark's array_distinct would keep one)
_NB_LABEL = {
    True: "case when size(array_distinct(filter(tokens, t -> t is not null)))"
    " * 2 >= n_tok then 1 else 0 end",
    False: "CASE WHEN len(list_distinct(tokens)) * 2 >= n_tok "
    "THEN 1 ELSE 0 END",
}


def _nb_weight_sql(c1: str, c0: str, n1: str, n0: str, v: int = NB_BUCKETS) -> str:
    """Integer micro-nat log-odds weight — identical text both dialects.

    ``v`` is the smoothing vocabulary size (defaults to the NB bucket
    count; DSIR reuses this with its own bucket count)."""
    return (
        f"CAST(floor(1000000.0 * ("
        f"ln(CAST({c1} + 1 AS DOUBLE)) - ln(CAST({n1} + {v} AS DOUBLE)) - "
        f"ln(CAST({c0} + 1 AS DOUBLE)) + ln(CAST({n0} + {v} AS DOUBLE))"
        f")) AS BIGINT)"
    )


def _nb_prior_sql(d1: str, d0: str) -> str:
    return (
        f"CAST(floor(1000000.0 * ("
        f"ln(CAST({d1} + 1 AS DOUBLE)) - ln(CAST({d0} + 1 AS DOUBLE))"
        f")) AS BIGINT)"
    )


def _fit_literals(
    spark, c1: list[int], c0: list[int], v: int,
    docs: tuple[int, int] | None = None,
) -> tuple[list[int], int | None]:
    """A kernel fit's literals from its exact integer counts: per-bucket
    :func:`_nb_weight_sql` over ``c1``/``c0`` (``v`` buckets, then one
    slot of NULL-element counts that only feed the totals) and, given
    per-class doc counts ``docs``, the :func:`_nb_prior_sql` prior.

    Spark evaluates the SQL trainers' own expressions, so kernel and
    trainer share one ``ln``. The query reads an inline one-row VALUES
    table, which Spark answers as a local relation without a job."""

    def arr(xs):
        return f"array({', '.join(f'{int(x)}L' for x in xs)})"

    w = _nb_weight_sql("c1[i]", "c0[i]", f"{sum(c1)}L", f"{sum(c0)}L", v)
    prior = (
        "CAST(NULL AS BIGINT)" if docs is None
        else _nb_prior_sql(f"{docs[0]}L", f"{docs[1]}L")
    )
    row = spark.sql(
        f"SELECT transform(sequence(0, {v - 1}), i -> {w}) AS w, "
        f"{prior} AS prior FROM VALUES ({arr(c1)}, {arr(c0)}) AS _fit(c1, c0)"
    ).collect()[0]
    return list(row.w), row.prior


def _num_id_np(doc_ids) -> "tuple":
    """numpy twin of ``CAST(regexp_replace(doc_id,'[^0-9]','') AS
    BIGINT)``: digits-only id as int64, with Spark's non-ANSI
    CAST-overflow -> NULL semantics. Returns (num int64 array, ok bool
    array)."""
    n = len(doc_ids)
    num = np.zeros(n, dtype=np.int64)
    ok = np.zeros(n, dtype=bool)
    for i, s in enumerate(doc_ids):
        d = "".join(ch for ch in s if "0" <= ch <= "9") if s else ""
        if d:
            val = int(d)
            if val < (1 << 63):
                num[i] = val
                ok[i] = True
    return num, ok


def _trunc_rem(x, m: int):
    """Java/Spark ``%`` (truncated remainder, sign of dividend) on
    int64 — numpy's ``%`` is floor-mod and differs for negatives."""
    neg = x < 0
    return np.where(neg, -((-x) % np.int64(m)), x % np.int64(m))


def _train_mask_np(doc_ids):
    """numpy twin of the ``(id * 9973 + 12345) % 100 < 80`` train
    predicate (int64 wrap-around + truncated %, NULL ids excluded)."""
    num, ok = _num_id_np(doc_ids)
    with np.errstate(over="ignore"):
        x = num * np.int64(9973) + np.int64(12345)
    return ok & (_trunc_rem(x, 100) < 80)


def _distinct_counts_np(doc_idx, values, n_docs):
    """Distinct-value count per doc over concatenated (doc_idx, value)
    pairs — one lexsort, no per-doc loop."""
    if not len(values):
        return np.zeros(n_docs, dtype=np.int64)
    order = np.lexsort((values, doc_idx))
    sv, sd = values[order], doc_idx[order]
    newv = np.empty(len(sv), dtype=bool)
    newv[0] = True
    newv[1:] = (sv[1:] != sv[:-1]) | (sd[1:] != sd[:-1])
    return np.bincount(
        sd, weights=newv.astype(np.float64), minlength=n_docs
    ).astype(np.int64)


def _fit_counts(tokseq: DataFrame, v: int, buckets) -> DataFrame:
    """Exact integer counts of a weakly labelled bucket model over the
    train split: ONE ``mapInArrow`` pass whose per-task numpy bincounts
    replace the corpus explode + bucket aggregation of the SQL trainers
    (r06). One row per task: ``c1``/``c0`` per-bucket feature counts by
    label (``v`` buckets, then one NULL slot) and ``d1``/``d0`` docs.

    ``buckets(tok)`` maps the train docs' token lists (an
    :class:`~..core.arrow_lists.ListColumn`) to ``(bucket per feature,
    features per doc)``; a feature that touches a NULL token element
    takes bucket ``v``, so it counts toward the split totals but in no
    bucket (the SQL trainers' NULL group). The split predicate
    replicates Spark's non-ANSI integer semantics."""
    def run(batches):
        c1 = np.zeros(v + 1, dtype=np.int64)
        c0 = np.zeros(v + 1, dtype=np.int64)
        d1 = d0 = 0
        for batch in batches:
            train = _train_mask_np(batch.column("doc_id").to_pylist())
            if not train.any():
                continue
            batch = batch.filter(pa.array(train))
            tok = read_list(batch, "tokens", np.int64)
            doc_idx = np.repeat(np.arange(batch.num_rows), np.diff(tok.offsets))
            distinct = _distinct_counts_np(
                doc_idx[tok.valid], tok.values[tok.valid], batch.num_rows
            )
            # a NULL n_tok reads NaN, which no count reaches: label 0, as
            # the SQL CASE gives
            n_tok = batch.column("n_tok").to_numpy(zero_copy_only=False)
            label = distinct * 2 >= n_tok
            d1 += int(label.sum())
            d0 += int((~label).sum())
            b, per_doc = buckets(tok)
            feat_label = np.repeat(label, per_doc)
            c1 += np.bincount(b[feat_label], minlength=v + 1)
            c0 += np.bincount(b[~feat_label], minlength=v + 1)
        yield pa.RecordBatch.from_arrays(
            [
                list_array(c1[None, :]),
                list_array(c0[None, :]),
                pa.array([d1], type=pa.int64()),
                pa.array([d0], type=pa.int64()),
            ],
            names=["c1", "c0", "d1", "d0"],
        )

    return tokseq.select("doc_id", "tokens", "n_tok").mapInArrow(
        run, schema="c1 array<long>, c0 array<long>, d1 long, d0 long"
    )


def _fit_literals_kernel(
    tokseq: DataFrame, v: int, buckets
) -> tuple[list[int], int | None]:
    """A kernel fit's ``(weights, prior)`` from :func:`_fit_counts`:
    :func:`_fit_literals` evaluates the closed forms in Spark, so the
    literals are bit-identical to the SQL trainers'. prior is None when
    the train split is empty (the SQL path's NULL prior)."""
    c = np.zeros((2, v + 1), dtype=np.int64)
    d1 = d0 = 0
    for p in _fit_counts(tokseq, v, buckets).collect():  # one row per task
        c += (p.c1, p.c0)
        d1, d0 = d1 + p.d1, d0 + p.d0
    # empty train split: the SQL dtot aggregates over zero rows to NULL
    # and the prior (hence every score) is NULL
    docs = None if d1 == 0 and d0 == 0 else (d1, d0)
    return _fit_literals(tokseq.sparkSession, c[0].tolist(), c[1].tolist(), v, docs)


def _nb_buckets(tok):
    """NB features: one unigram bucket per token element."""
    v, a, b = NB_BUCKETS, NB_MULT, NB_OFF
    # bucket arithmetic wraps in INT (tokens are array<int>): int32
    # multiply-add, then pmod — the double-% in the SQL is exactly
    # floor-mod for the positive modulus
    with np.errstate(over="ignore"):
        x = tok.values.astype(np.int32) * np.int32(a) + np.int32(b)
    return np.where(tok.valid, x.astype(np.int64) % v, v), np.diff(tok.offsets)


def _nb_fit_literals_kernel(tokseq: DataFrame) -> tuple[list[int], int | None]:
    """The NB fit: :func:`nb_train`'s weight and prior literals."""
    return _fit_literals_kernel(tokseq, NB_BUCKETS, _nb_buckets)


def nb_train(tokseq: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fit the NB model on the deterministic 'train' split.

    Returns ``(wtab, pri)``: the per-bucket weight table
    (b int, w bigint — all NB_BUCKETS rows, unseen buckets get the
    smoothed default) and the one-row class prior (prior bigint). Both
    are tiny lazy plans — persist/write them to reuse one trained model
    across scoring runs (feature-store style), or feed them straight to
    :func:`nb_score`.
    """
    v, a, b = NB_BUCKETS, NB_MULT, NB_OFF
    num_id = "CAST(regexp_replace(doc_id, '[^0-9]', '') AS BIGINT)"
    labeled = tokseq.withColumn("weak_label", F.expr(_NB_LABEL[True]))
    train = labeled.where(F.expr(_NB_SPLIT.format(id=num_id)))
    ex = train.select(
        "weak_label", F.explode("tokens").alias("t")
    ).withColumn("b", F.expr(f"((t * {a} + {b}) % {v} + {v}) % {v}"))
    counts = ex.groupBy("b").agg(
        F.sum(F.expr("case when weak_label = 1 then 1 else 0 end")).alias("c1"),
        F.sum(F.expr("case when weak_label = 0 then 1 else 0 end")).alias("c0"),
    )
    # totals derive from the NB_BUCKETS-row counts relation, not a second
    # corpus-wide explode: every exploded row lands in exactly one bucket,
    # so n1 = sum(c1) / n0 = sum(c0); the identical counts subtree lets
    # Spark reuse one exchange where the old ex.agg re-ran the explode.
    # coalesce(0) keeps the smoothed weights finite when the train split
    # has zero exploded tokens (empty arrays) instead of NULL-poisoning.
    tot = counts.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).alias("n1"),
        F.coalesce(F.sum("c0"), F.lit(0)).alias("n0"),
    )
    dtot = train.agg(
        F.sum("weak_label").alias("d1"),
        (F.count("*") - F.sum("weak_label")).alias("d0"),
    )
    grid = tot.select(
        F.explode(F.expr(f"sequence(0, {v - 1})")).alias("b"), "n1", "n0"
    )
    wtab = (
        grid.join(counts, "b", "left")
        .withColumn(
            "w",
            F.expr(
                _nb_weight_sql("coalesce(c1, 0)", "coalesce(c0, 0)", "n1", "n0")
            ),
        )
        .select("b", "w")
    )
    pri = dtot.select(F.expr(_nb_prior_sql("d1", "d0")).alias("prior"))
    return wtab, pri


def nb_score(
    tokseq: DataFrame, wtab: DataFrame, pri: DataFrame
) -> DataFrame:
    """Score docs with a trained model (broadcast weight table + prior).

    Output: (doc_id, weak_label, nb_score_micro, predicted) — score in
    integer micro-nats, predicted = score > 0. Docs with empty token
    arrays drop out (explode semantics, same both engines)."""
    v, a, b = NB_BUCKETS, NB_MULT, NB_OFF
    labeled = tokseq.withColumn("weak_label", F.expr(_NB_LABEL[True]))
    exall = labeled.select(
        "doc_id", "weak_label", F.explode("tokens").alias("t")
    ).withColumn("b", F.expr(f"((t * {a} + {b}) % {v} + {v}) % {v}"))
    sc = (
        exall.join(F.broadcast(wtab), "b")
        .groupBy("doc_id", "weak_label")
        .agg(F.sum("w").alias("sw"))
    )
    return sc.crossJoin(F.broadcast(pri)).select(
        "doc_id",
        "weak_label",
        (F.col("prior") + F.col("sw")).cast("long").alias("nb_score_micro"),
        F.expr(
            "case when prior + sw > 0 then 1 else 0 end"
        ).alias("predicted"),
    )


def nb_quality(tokseq: DataFrame) -> DataFrame:
    """Train on the deterministic 'train' split, score EVERY doc.

    r06 shape: the trained model (64 weights + prior, bounded by
    construction) is collected to driver literals and the scoring pass
    is :func:`nb_expr_score`'s integer fold per doc — bit-identical to
    :func:`nb_score`'s explode → broadcast-join → groupBy plan (integer
    sums are order-free; the ``coalesce`` reproduces the join's
    null-bucket drop; the non-null
    filter reproduces the join dropping docs with no bucketed token,
    empty ones included), but the scoring side ships zero rows through
    any exchange. Only the tiny fit still shuffles. Use :func:`nb_train` + :func:`nb_score` to
    score with a *stored* model table instead.

    NULL token elements land in no bucket, so the join drops them: they
    add nothing to a score, a doc with no non-null element drops out
    like an empty one, and the label counts only non-null distinct
    values (DuckDB's ``list_distinct``).
    """
    weights, prior = _nb_fit_literals_kernel(tokseq)
    nonnull = tokseq.where(F.expr("exists(tokens, t -> t is not null)"))
    return nb_expr_score(nonnull, weights, prior)


def nb_quality_oracle_sql(
    from_clause: str = "tokseq", final_cte: str | None = None
) -> str:
    """DuckDB twin of :func:`nb_quality` as a CTE fragment."""
    v, a, b = NB_BUCKETS, NB_MULT, NB_OFF
    num_id = "CAST(regexp_replace(doc_id, '[^0-9]', '', 'g') AS BIGINT)"
    w = _nb_weight_sql("coalesce(c1, 0)", "coalesce(c0, 0)", "n1", "n0")
    sel = (
        "SELECT sc.doc_id AS doc_id, sc.weak_label AS weak_label, "
        "CAST(pri.prior + sc.sw AS BIGINT) AS nb_score_micro, "
        "CASE WHEN pri.prior + sc.sw > 0 THEN 1 ELSE 0 END AS predicted "
        "FROM sc CROSS JOIN pri"
    )
    base = (
        f"nb_lab AS (SELECT doc_id, tokens, "
        f"{_NB_LABEL[False]} AS weak_label FROM {from_clause}), "
        f"nb_tr AS (SELECT * FROM nb_lab "
        f"WHERE {_NB_SPLIT.format(id=num_id)}), "
        f"nb_ex AS (SELECT weak_label, "
        f"((u.t * {a} + {b}) % {v} + {v}) % {v} AS b "
        f"FROM nb_tr, unnest(nb_tr.tokens) AS u(t)), "
        f"cts AS (SELECT b, "
        f"sum(CASE WHEN weak_label = 1 THEN 1 ELSE 0 END) AS c1, "
        f"sum(CASE WHEN weak_label = 0 THEN 1 ELSE 0 END) AS c0 "
        f"FROM nb_ex GROUP BY b), "
        f"tot AS (SELECT "
        f"sum(CASE WHEN weak_label = 1 THEN 1 ELSE 0 END) AS n1, "
        f"sum(CASE WHEN weak_label = 0 THEN 1 ELSE 0 END) AS n0 "
        f"FROM nb_ex), "
        f"dtot AS (SELECT sum(weak_label) AS d1, "
        f"count(*) - sum(weak_label) AS d0 FROM nb_tr), "
        f"wt AS (SELECT g.b, {w} AS w FROM "
        f"(SELECT unnest(range(0, {v})) AS b) g CROSS JOIN tot "
        f"LEFT JOIN cts ON g.b = cts.b), "
        f"pri AS (SELECT {_nb_prior_sql('d1', 'd0')} AS prior FROM dtot), "
        f"nb_exall AS (SELECT doc_id, weak_label, "
        f"((u.t * {a} + {b}) % {v} + {v}) % {v} AS b "
        f"FROM nb_lab, unnest(nb_lab.tokens) AS u(t)), "
        f"sc AS (SELECT doc_id, weak_label, sum(w) AS sw "
        f"FROM nb_exall JOIN wt USING (b) GROUP BY 1, 2)"
    )
    if final_cte is None:
        return f"WITH {base} {sel}" if from_clause != "tokseq" else f"{base} {sel}"
    return f"{base}, {final_cte} AS ({sel})"


# ---------------------------------------------------------------------------
# LM perplexity filter — hashed-bigram language model (CCNet analog)
# ---------------------------------------------------------------------------
# CCNet/RedPajama-style pipelines filter documents by the perplexity of
# a small language model trained on a clean corpus: fluent text scores
# low, boilerplate/garbage scores high. This is that stage as a
# hashed-bigram LM with add-one smoothing — the bounded-model analog of
# KenLM (contexts and bigrams hash into fixed bucket tables, so the
# model is LM_CTX + LM_JOINT rows no matter the vocabulary):
#
#   logp(t_i | t_{i-1}) ~= ln(c_joint(jb) + 1) - ln(c_ctx(cb) + LM_JOINT)
#     where cb = hash(t_{i-1}) mod LM_CTX, jb = hash(t_{i-1}, t_i) mod
#     LM_JOINT, counts fitted on the deterministic train split.
#
# Per-position log-probs quantize to integer micro-nats (the NB idiom:
# ln is libm-matched cross-engine, floor exact), so the per-doc negative
# log-likelihood is an order-free integer sum and the whole filter is
# value-oracle-checkable. The reported ``mnll_micro`` (mean NLL per
# bigram, micro-nats) is the log of perplexity — monotone in it, so
# thresholds translate directly.
#
# 100 TB shape: training is two groupBys of one exploded pass onto
# LM_CTX + LM_JOINT keys (map-side partial agg; tiny model); scoring
# broadcasts both tables — explode -> two broadcast joins -> integer
# sum. Docs with < 2 tokens have no bigram positions and drop out
# (explode semantics, same both engines).

LM_CTX = 96
LM_JOINT = 192
LM_CM, LM_CO = 59, 13  # context-hash affine coefficients
LM_M1, LM_M2, LM_OFF = 43, 103, 31  # joint-hash affine coefficients


def _lm_pos_codes(spark: bool) -> str:
    """Packed (cb * LM_JOINT + jb) code array over ``tokens`` — one int
    per bigram position, split back with div/mod (exact both engines)."""
    cb = f"((t1 * {LM_CM} + {LM_CO}) % {LM_CTX} + {LM_CTX}) % {LM_CTX}"
    jb = (
        f"((t1 * {LM_M1} + t2 * {LM_M2} + {LM_OFF}) "
        f"% {LM_JOINT} + {LM_JOINT}) % {LM_JOINT}"
    )
    # tokens promote to BIGINT before the multiplies (see _dsir_feats:
    # Spark wraps int32 overflow, DuckDB errors — cast removes the
    # divergence window, value-identical for in-range ids)
    if spark:
        code = (
            f"({cb}) * {LM_JOINT} + ({jb})"
            .replace("t1", "bigint(element_at(tokens, cast(i as int)))")
            .replace("t2", "bigint(element_at(tokens, cast(i + 1 as int)))")
        )
        return (
            f"transform(filter(sequence(1, size(tokens)), "
            f"i -> i < size(tokens)), i -> {code})"
        )
    code = (
        f"({cb}) * {LM_JOINT} + ({jb})"
        .replace("t1", "CAST(tokens[i] AS BIGINT)")
        .replace("t2", "CAST(tokens[i + 1] AS BIGINT)")
    )
    return f"list_transform(range(1, len(tokens)), i -> {code})"


_LM_W = (
    f"CAST(floor(1000000.0 * ("
    f"ln(CAST(coalesce(cj, 0) + 1 AS DOUBLE)) - "
    f"ln(CAST(coalesce(cc, 0) + {LM_JOINT} AS DOUBLE)))) AS BIGINT)"
)
_LM_SPLIT = "((({id}) * 9973 + 12345) % 100) < 80"


def lm_train(tokseq: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fit the hashed-bigram LM on the deterministic 'train' split.

    Returns ``(joint_tab, ctx_tab)``: (jb int, cj bigint) and
    (cb int, cc bigint) count tables — sparse (unseen buckets absent;
    scoring coalesces to 0). Both tiny lazy plans."""
    num_id = "CAST(regexp_replace(doc_id, '[^0-9]', '') AS BIGINT)"
    train = tokseq.where(F.expr(_LM_SPLIT.format(id=num_id)))
    pos = train.select(
        F.explode(F.expr(_lm_pos_codes(True))).alias("code")
    ).select(
        F.expr(f"code div {LM_JOINT}").alias("cb"),
        F.expr(f"code % {LM_JOINT}").alias("jb"),
    )
    joint = pos.groupBy("jb").agg(F.count("*").cast("long").alias("cj"))
    ctx = pos.groupBy("cb").agg(F.count("*").cast("long").alias("cc"))
    return joint, ctx


def lm_score(
    tokseq: DataFrame, joint: DataFrame, ctx: DataFrame
) -> DataFrame:
    """Score every doc with a fitted LM (both tables broadcast).

    Output: (doc_id, n_bigrams, nll_micro, mnll_micro) — total and
    per-bigram mean negative log-likelihood in integer micro-nats."""
    pos = tokseq.select(
        "doc_id", F.explode(F.expr(_lm_pos_codes(True))).alias("code")
    ).select(
        "doc_id",
        F.expr(f"code div {LM_JOINT}").alias("cb"),
        F.expr(f"code % {LM_JOINT}").alias("jb"),
    )
    scored = (
        pos.join(F.broadcast(joint), "jb", "left")
        .join(F.broadcast(ctx), "cb", "left")
        .withColumn("_w", F.expr(_LM_W))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.expr("CAST(sum(-_w) AS BIGINT)").alias("nll_micro"),
        )
        .withColumn(
            "mnll_micro",
            F.expr(
                "CAST(floor(CAST(nll_micro AS DOUBLE) / n_bigrams) AS BIGINT)"
            ),
        )
    )


def lm_perplexity(tokseq: DataFrame) -> DataFrame:
    """Train on the deterministic 'train' split, score EVERY doc —
    :func:`lm_train` + :func:`lm_score` in one lazy plan."""
    joint, ctx = lm_train(tokseq)
    return lm_score(tokseq, joint, ctx)


def lm_perplexity_oracle_sql(
    from_clause: str = "tokseq", final_cte: str | None = None
) -> str:
    """DuckDB twin of :func:`lm_perplexity` as a CTE fragment."""
    # TRY_CAST == Spark's non-ANSI CAST (digitless ids -> NULL, not an
    # engine error); NULL < 80 is NULL so such docs drop out of the
    # train split on both engines
    num_id = "TRY_CAST(regexp_replace(doc_id, '[^0-9]', '', 'g') AS BIGINT)"
    sel = (
        "SELECT doc_id, n_bigrams, nll_micro, "
        "CAST(floor(CAST(nll_micro AS DOUBLE) / n_bigrams) AS BIGINT) "
        "AS mnll_micro FROM lm_doc"
    )
    base = (
        f"lm_pos AS (SELECT doc_id, u.code // {LM_JOINT} AS cb, "
        f"u.code % {LM_JOINT} AS jb FROM "
        f"(SELECT doc_id, {_lm_pos_codes(False)} AS cs FROM {from_clause}) t, "
        f"unnest(t.cs) AS u(code)), "
        f"lm_tr AS (SELECT cb, jb FROM lm_pos "
        f"WHERE {_LM_SPLIT.format(id=num_id)}), "
        f"lm_j AS (SELECT jb, CAST(count(*) AS BIGINT) AS cj "
        f"FROM lm_tr GROUP BY jb), "
        f"lm_c AS (SELECT cb, CAST(count(*) AS BIGINT) AS cc "
        f"FROM lm_tr GROUP BY cb), "
        f"lm_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
        f"CAST(sum(-{_LM_W}) AS BIGINT) AS nll_micro "
        f"FROM lm_pos LEFT JOIN lm_j USING (jb) LEFT JOIN lm_c USING (cb) "
        f"GROUP BY doc_id)"
    )
    if final_cte is None:
        return f"{base} {sel}"
    return f"{base}, {final_cte} AS ({sel})"


def nb_model_literals(
    wtab: DataFrame, pri: DataFrame
) -> tuple[list[int], int]:
    """Collect a trained model (NB_BUCKETS weight rows + the prior) to
    driver literals — bounded by construction, the serving handoff."""
    ws = {r.b: r.w for r in wtab.collect()}
    weights = [int(ws[b]) for b in range(NB_BUCKETS)]
    prior = int(pri.collect()[0].prior)
    return weights, prior


def nb_expr_score(
    tokseq: DataFrame, weights: list[int], prior: int | None
) -> DataFrame:
    """Score with the model COMPILED INTO ONE SCALAR EXPRESSION: the 64
    micro-nat weights become an array literal and the per-doc score is
    a fold over the token array — a narrow stateless map that runs
    identically on a batch frame and a structured STREAM (no
    aggregation state, append mode, any trigger). This is how the
    trained filter deploys online: the model rides in the plan itself.

    Semantics match :func:`nb_score` row-for-row (tested), except docs
    with no non-null token: the explode path drops them, the fold
    scores them at the bare prior (a stream must emit something per
    input row). A NULL element adds nothing, and a ``None`` prior (an
    empty train split) scores NULL, as in the SQL path.
    """
    v, a, b = NB_BUCKETS, NB_MULT, NB_OFF
    arr = f"array({', '.join(f'{int(w)}L' for w in weights)})"
    prior_sql = "CAST(NULL AS BIGINT)" if prior is None else f"{int(prior)}L"
    score = (
        f"{prior_sql} + aggregate(tokens, cast(0 as bigint), "
        f"(acc, t) -> acc + coalesce(element_at({arr}, "
        f"((t * {a} + {b}) % {v} + {v}) % {v} + 1), cast(0 as bigint)))"
    )
    return tokseq.select(
        "doc_id",
        F.expr(_NB_LABEL[True]).alias("weak_label"),
        F.expr(score).alias("nb_score_micro"),
        F.expr(f"case when {score} > 0 then 1 else 0 end").alias(
            "predicted"
        ),
    )


# ---------------------------------------------------------------------------
# Winnowing — local document fingerprints (Schleimer et al., SIGMOD 2003)
# ---------------------------------------------------------------------------
# The MOSS algorithm: hash every k-gram with a polynomial rolling hash,
# slide a window of w consecutive gram hashes, keep each window's
# minimum (ties -> leftmost position, via packing the position into the
# low bits) — the distinct selected (hash, pos) pairs are the document's
# fingerprints. Guarantee: any substring match of length >= w + k - 1
# between two documents shares at least one selected fingerprint, at an
# expected density of 2/(w+1) grams — a sparse signature that turns
# substring-overlap detection into an equi-join on 8-byte keys.
#
# Everything is integer arithmetic both engines evaluate exactly:
# gram hash h = fold (h*B + tok) % P with B < 2^20 and P < 2^40 keeps
# every product < 2^60; the packed selector hash*2^20 + pos < 2^60.
# Compute shape: one narrow projection over the tokens scan (two HOF
# stages, zero shuffle, zero Python).

WINNOW_K = 4                    # gram length (tokens)
WINNOW_W = 8                    # winnow window (grams)
_WIN_B = 1048573                # polynomial base, prime < 2^20
_WIN_P = 1099511627689          # modulus, prime < 2^40
_WIN_POS = 1 << 20              # position packing (doc len < 2^20)


def _winnow_packed_sql(spark: bool, k: int, col: str) -> str:
    """Array of position-packed gram hashes: element i (1-based) is
    hash(tokens[i..i+k-1]) * 2^20 + (i-1)."""
    if spark:
        gh = (
            f"aggregate(sequence(i, i + {k - 1}), 0L, "
            f"(h, j) -> (h * {_WIN_B} + element_at({col}, j)) % {_WIN_P})"
        )
        return (
            f"transform(sequence(1, size({col}) - {k - 1}), "
            f"i -> ({gh}) * {_WIN_POS} + (i - 1))"
        )
    gh = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"{col}[i:i + {k - 1}]), (h, t) -> (h * {_WIN_B} + t) % {_WIN_P})"
    )
    return (
        f"list_transform(range(1, len({col}) - {k - 2}), "
        f"i -> ({gh}) * {_WIN_POS} + (i - 1))"
    )


def _winnow_select_sql(spark: bool, w: int, ph: str) -> str:
    """Distinct window minima over the packed-hash array ``ph``: one
    window per start s = 1..max(1, g-w+1); a short array is one window."""
    if spark:
        return (
            f"array_distinct(transform("
            f"sequence(1, greatest(1, size({ph}) - {w - 1})), "
            f"s -> array_min(slice({ph}, s, {w}))))"
        )
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(1, len({ph}) - {w - 1}) + 1), "
        f"s -> list_min({ph}[s:s + {w - 1}])))"
    )


def winnow_fingerprints(
    tokseq: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """(doc_id, pos, gram_hash) — the selected fingerprints, exploded.
    Documents shorter than k tokens have none (no rows)."""
    ph = tokseq.where(F.expr(f"size(tokens) >= {k}")).selectExpr(
        "doc_id", f"{_winnow_packed_sql(True, k, 'tokens')} as _ph"
    )
    return ph.selectExpr(
        "doc_id",
        f"explode({_winnow_select_sql(True, w, '_ph')}) as packed",
    ).selectExpr(
        "doc_id",
        f"cast(packed % {_WIN_POS} as int) as pos",
        f"packed div {_WIN_POS} as gram_hash",
    )


def winnow_oracle_sql(
    from_clause: str = "tokseq", k: int = WINNOW_K, w: int = WINNOW_W
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (same 3 columns)."""
    return (
        f"SELECT doc_id, "
        f"CAST(u.packed % {_WIN_POS} AS INTEGER) AS pos, "
        f"u.packed // {_WIN_POS} AS gram_hash "
        f"FROM (SELECT doc_id, "
        f"{_winnow_select_sql(False, w, 'ph')} AS sel "
        f"FROM (SELECT doc_id, {_winnow_packed_sql(False, k, 'tokens')} "
        f"AS ph FROM {from_clause} WHERE len(tokens) >= {k}) _p) _s, "
        f"unnest(_s.sel) u(packed)"
    )


def winnow_pairs(
    fingerprints: DataFrame,
    min_shared: int = 2,
    max_doc_freq: int = 64,
) -> DataFrame:
    """Candidate overlap pairs from shared fingerprints:
    (doc_a, doc_b, n_shared), doc_a < doc_b, n_shared = distinct shared
    gram hashes >= ``min_shared``.

    Scale shape (the LSH-candidate pattern): dedupe to distinct
    (doc_id, gram_hash) first, drop "stop grams" selected by more than
    ``max_doc_freq`` documents (a boilerplate gram's bucket would
    otherwise explode quadratically — the removed mass is countable by
    the caller from the returned plan), then a hash-keyed self-join on
    8-byte keys with map-side distinct. Never all-pairs."""
    prints = fingerprints.select("doc_id", "gram_hash").distinct()
    hot = (
        prints.groupBy("gram_hash")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_doc_freq)
        .select("gram_hash")
    )
    cool = prints.join(F.broadcast(hot), "gram_hash", "left_anti")
    a = cool.alias("a")
    b = cool.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram_hash") == F.col("b.gram_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.countDistinct("a.gram_hash").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
