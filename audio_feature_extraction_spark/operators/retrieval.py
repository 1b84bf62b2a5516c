"""Keyword retrieval over the document corpus: inverted postings,
TF-IDF, and Okapi BM25 top-k search.

A training-data pipeline needs targeted *lookup* as well as bulk
filtering — "find the documents about X" (curation audits, eval-set
construction, contamination triage).  The classic IR stack maps onto
Spark relational primitives directly:

* **postings** — the inverted index as a DataFrame ``(term, doc_id,
  tf, dl)``: one ``explode`` + one ``groupBy`` with map-side partial
  aggregation; the document length ``dl`` rides along from the explode
  so scoring never joins back to the corpus.
* **query scoring** — the query term set is tiny, so it BROADCASTS:
  postings are pruned to query terms *before* any shuffle (a broadcast
  hash semi-join the optimizer pushes below the aggregation), and the
  per-``(query, doc)`` score aggregation shuffles only the pruned
  postings.  Corpus scalars (N, avgdl) come from one ``agg`` and a
  broadcast cross-join.
* **top-k** — ``row_number`` over ``(query_id)`` ordered by
  ``(score DESC, doc_id)`` on the scored candidates only.

Cross-engine determinism (the driver hash-compares doubles): the JVM's
``ln`` is NOT correctly rounded (measured: 1-ulp divergence from libm
on ~5% of inputs — tests/test_retrieval.py), so the idf logarithm runs
through the reproducible integer-ratio polynomial log
(functions/reproducible.py) instead of the built-in; BM25 constants
are exact binary fractions (k1 = 1.25, b = 0.75) cast explicitly to
DOUBLE (bare literals parse as DECIMAL with engine-specific
promotion); every division/multiplication is written with pinned
parenthesization in BOTH dialects; and the per-document sum folds the
per-term contributions in sorted term order (Spark ``aggregate`` over
``sort_array`` == DuckDB ``list_reduce`` over ``list(... ORDER BY
term)``).  Scores — and therefore ranks — match bit-for-bit at every
tested scale.

Reference scope: the reference engine's design doc covers feature
*extraction*, not retrieval; this module is part of the beyond-
inventory training-data-pipeline surface (SURVEY.md §2 appendix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.materialize import materialize
from ..functions.reproducible import ln_ratio_sql
from .textstats import _words

# Exact binary fractions: k1 = 5/4, b = 3/4 are representable, so
# (k1 + 1), (1 - b) etc. introduce no rounding either engine could
# perform differently.
BM25_K1 = 1.25
BM25_B = 0.75

N_QUERIES = 5
TERMS_PER_QUERY = 4


# ---------------------------------------------------------------------------
# Inverted index
# ---------------------------------------------------------------------------


def postings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, doc_id, tf, dl) — term frequency per document, with the
    whitespace-token document length carried from the explode (no
    join-back to the corpus at scoring time).

    One shuffle: groupBy (term, doc_id) with map-side combine; dl is
    constant within the group so it rides in the key for free.
    """
    # bind the split once (r06): a single-projection form repeats the
    # split expression in both size() and explode(); materializing the
    # words array as an attribute first keeps one evaluation per row
    # (Catalyst does not collapse projects that would duplicate
    # non-cheap expressions)
    w = docs.selectExpr(
        "doc_id", f"{_words(text_col, True)} as _ws"
    ).selectExpr("doc_id", "size(_ws) as dl", "explode(_ws) as term")
    return (
        w.groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
    )


def corpus_queries(
    post: DataFrame,
    n_queries: int = N_QUERIES,
    terms_per_query: int = TERMS_PER_QUERY,
) -> DataFrame:
    """Deterministic query workload derived from the corpus itself:
    rank terms by (total tf DESC, term ASC), take the top
    ``n_queries * terms_per_query``, deal them round-robin into
    ``query_id = (rank - 1) % n_queries`` — each query mixes frequency
    tiers, and each term belongs to exactly one query.

    Scale shape: the rank is a ``TakeOrdered`` (orderBy + limit — never
    a full sort), and the window that assigns ranks runs on the
    already-limited ~n*t-row frame.
    """
    n_total = n_queries * terms_per_query
    tf_tot = post.groupBy("term").agg(F.sum("tf").alias("freq"))
    top = tf_tot.orderBy(F.desc("freq"), F.asc("term")).limit(n_total)
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    return top.select(
        "term",
        ((F.row_number().over(w) - F.lit(1)) % n_queries)
        .cast("long")
        .alias("query_id"),
    )


def _queries_cte_sql(n_queries: int, terms_per_query: int) -> str:
    """DuckDB twin of :func:`corpus_queries` over a ``post`` relation."""
    n_total = n_queries * terms_per_query
    return (
        f"SELECT term, (rn - 1) % {n_queries} AS query_id FROM ("
        f"SELECT term, row_number() OVER (ORDER BY freq DESC, term) AS rn "
        f"FROM (SELECT term, sum(tf) AS freq FROM post GROUP BY term "
        f"ORDER BY freq DESC, term LIMIT {n_total}) _t) _r"
    )


# ---------------------------------------------------------------------------
# Scoring
# ---------------------------------------------------------------------------


def _contrib_sql(variant: str, k1: float, b: float, spark: bool) -> str:
    """Per-(term, doc) score contribution with PINNED parenthesization —
    identical arithmetic in both dialects (tf, df, dl are integer
    columns; n_docs/avgdl come from the scalars join).

    Two cross-engine traps, both measured (1-ulp divergences that break
    the driver value-hash):

    * bare float literals parse as DECIMAL with engine-specific
      promotion — every constant goes through an explicit double cast,
      with derived constants (k1 + 1, 1 - b) folded in python first;
    * the JVM's ``ln`` is not correctly rounded — the idf log runs
      through :func:`ln_ratio_sql` (the reproducible polynomial log)
      over the exact integer ratio form of the BM25 idf:
      1 + (N - df + 0.5)/(df + 0.5)  ==  (2N + 2)/(2 df + 1).
    """
    tf = "CAST(tf AS DOUBLE)"
    dl = "CAST(dl AS DOUBLE)"

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    if variant == "tfidf":
        return f"({tf} * {ln_ratio_sql('n_docs', 'df', spark)})"
    if variant != "bm25":
        raise ValueError(f"unknown retrieval variant: {variant}")
    idf = ln_ratio_sql("2 * n_docs + 2", "2 * df + 1", spark)
    denom = (
        f"({tf} + {d(k1)} * ({d(1.0 - b)} + ({d(b)} * ({dl} / avgdl))))"
    )
    return f"({idf} * (({tf} * {d(k1 + 1.0)}) / {denom}))"


def retrieval_topk(
    docs: DataFrame,
    k: int = 5,
    variant: str = "bm25",
    n_queries: int = N_QUERIES,
    terms_per_query: int = TERMS_PER_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents per query: (query_id, rank, doc_id, score).

    ``variant``: ``bm25`` (Okapi, k1/b as given) or ``tfidf``
    (tf * ln(N/df)).  Ties break to the lower doc_id.

    The postings relation feeds the query workload, the document
    frequencies, the corpus scalars AND the scoring join; as one lazy
    plan the corpus explode + aggregation ran once per consumer, so the
    call materializes it once (``core.materialize``, as
    ``lsh_candidate_pairs`` does for its band table). That is the
    call's only Spark work; the returned plan is lazy. This is the
    in-session analog of :func:`write_postings_index`: at cluster scale
    a repeated workload reads the persistent index instead. NULL and
    wordless text count toward ``n_docs`` with document length 0.
    """
    post = materialize(postings(docs, text_col=text_col))
    q = corpus_queries(post, n_queries, terms_per_query)
    # Corpus scalars: one row, broadcast through the cross join. dl is
    # per-document, so sum it over the postings' distinct docs (wordless
    # docs have no postings and add 0); n_docs is a one-row aggregate of
    # docs, so no count job runs before the plan does.
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scalars = (
        post.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_sum"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "n_docs",
            (
                F.col("dl_sum").cast("double") / F.col("n_docs").cast("double")
            ).alias("avgdl"),
        )
    )
    # Broadcast prune: only postings whose term is in a query survive,
    # BEFORE the scoring shuffle.
    qpost = post.join(F.broadcast(q), "term")
    # Global document frequency per query term (postings are unique per
    # (term, doc) so count(*) == countDistinct(doc)).
    dfs = qpost.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        qpost.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(scalars))
        .selectExpr(
            "query_id",
            "doc_id",
            "term",
            f"{_contrib_sql(variant, k1, b, True)} as contrib",
        )
    )
    # Pinned-order fold: sum contributions in ascending term order.
    per_doc = (
        scored.groupBy("query_id", "doc_id")
        .agg(
            F.expr(
                "aggregate(sort_array(collect_list(struct(term, contrib))), "
                "cast(0.0 as double), (acc, x) -> acc + x.contrib)"
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def retrieval_oracle_sql(
    k: int = 5,
    variant: str = "bm25",
    n_queries: int = N_QUERIES,
    terms_per_query: int = TERMS_PER_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    docs_rel: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`retrieval_topk` (same 4 columns)."""
    words = _words(text_col, False)
    return (
        f"WITH w AS (SELECT doc_id, len({words}) AS dl, "
        f"unnest({words}) AS term FROM {docs_rel}), "
        f"post AS (SELECT term, doc_id, dl, count(*) AS tf "
        f"FROM w GROUP BY term, doc_id, dl), "
        f"q AS ({_queries_cte_sql(n_queries, terms_per_query)}), "
        f"scalars AS (SELECT count(*) AS n_docs, "
        f"CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl "
        f"FROM (SELECT doc_id, len({words}) AS dl FROM {docs_rel}) _d), "
        f"qpost AS (SELECT p.term, p.doc_id, p.dl, p.tf, q.query_id "
        f"FROM post p JOIN q USING (term)), "
        f"dfs AS (SELECT term, count(*) AS df FROM qpost GROUP BY term), "
        f"scored AS (SELECT query_id, doc_id, term, "
        f"{_contrib_sql(variant, k1, b, False)} AS contrib "
        f"FROM qpost JOIN dfs USING (term) CROSS JOIN scalars), "
        f"per_doc AS (SELECT query_id, doc_id, "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list(contrib ORDER BY term)), (acc, x) -> acc + x) AS score "
        f"FROM scored GROUP BY query_id, doc_id), "
        f"rk AS (SELECT query_id, doc_id, score, row_number() OVER "
        f"(PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank "
        f"FROM per_doc) "
        f"SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}"
    )


# ---------------------------------------------------------------------------
# Persistent inverted index (build once, query many)
# ---------------------------------------------------------------------------


N_INDEX_BUCKETS = 64


def write_postings_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = N_INDEX_BUCKETS,
    text_col: str = "text",
) -> None:
    """Materialize the inverted index for repeated query workloads:
    postings partitioned on ``term_bucket = pmod(xxhash64(term), n)``.

    The layout is the scale story: a query touches only its terms'
    bucket directories (partition PRUNING at the scan — asserted in
    tests), so per-query cost is proportional to buckets hit, not
    corpus size.  Corpus scalars (n_docs, avgdl) are written alongside
    so queries never rescan the corpus.
    """
    post = postings(docs, text_col=text_col).withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    )
    post.write.mode("overwrite").partitionBy("term_bucket").parquet(
        f"{path}/postings"
    )
    docs.selectExpr(
        "doc_id", f"size({_words(text_col, True)}) as dl"
    ).agg(
        F.count("*").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count("*").cast("double")
        ).alias("avgdl"),
    ).withColumn(
        "n_buckets", F.lit(n_buckets)  # layout parameter rides with the
    ).write.mode("overwrite").parquet(f"{path}/scalars")  # index itself


def query_index(
    spark,
    path: str,
    terms_by_query: dict[int, list[str]],
    k: int = 5,
    variant: str = "bm25",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k documents per query against a saved index, reading ONLY
    the query terms' bucket partitions (the bucket count is read from
    the index's own scalars table — the layout is self-describing).

    ``terms_by_query``: query_id -> list of terms (a term may serve
    several queries here, unlike the corpus-derived workload).
    """
    q_rows = [
        (int(q), t) for q, ts in terms_by_query.items() for t in ts
    ]
    q = spark.createDataFrame(q_rows, "query_id long, term string")
    n_buckets = int(
        spark.read.parquet(f"{path}/scalars").select("n_buckets").head()[0]
    )
    buckets = sorted(
        {
            r.term_bucket
            for r in q.withColumn(
                "term_bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)),
            )
            .select("term_bucket")
            .distinct()
            .collect()
        }
    )
    post = spark.read.parquet(f"{path}/postings").where(
        F.col("term_bucket").isin(buckets)  # partition pruning
    )
    scalars = spark.read.parquet(f"{path}/scalars").drop("n_buckets")
    qpost = post.join(F.broadcast(q), "term")
    dfs = qpost.select("term", "doc_id").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = (
        qpost.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(scalars))
        .selectExpr(
            "query_id",
            "doc_id",
            "term",
            f"{_contrib_sql(variant, k1, b, True)} as contrib",
        )
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.expr(
            "aggregate(sort_array(collect_list(struct(term, contrib))), "
            "cast(0.0 as double), (acc, x) -> acc + x.contrib)"
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
