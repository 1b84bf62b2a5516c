"""Focused tests for the round-6 optimization internals.

Each optimization claims bit-identical results through a different
physical plan; these pin the equivalences directly (the driver oracle
rows check the composed queries, these check the changed seams).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators import (
    mixing, retrieval, textstats,
)


def _tokseq(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )


def test_nb_fit_kernel_matches_sql_trainer(spark):
    """The numpy fit's literals equal the SQL trainer's collected model
    bit-for-bit (counts exact; Spark evaluates both closed forms)."""
    rows = [
        (f"doc_{i}", [j % 7 - 3 for j in range(i)] + [i * 31], i + 1, "web")
        for i in range(40)
    ] + [("doc_nodigits", [5, 5, 5], 3, "web")]
    ts = _tokseq(spark, rows)
    kw, kp = textstats._nb_fit_literals_kernel(ts)
    wtab, pri = textstats.nb_train(ts)
    sw, sp = textstats.nb_model_literals(wtab, pri)
    assert kw == sw
    assert kp == sp


def test_dsir_fit_kernel_matches_sql_trainer(spark):
    """Same literal equality for the DSIR lam table."""
    rows = [
        (f"doc_{i}", [(j * 131 - 64) for j in range(i % 9)], i % 9, "web")
        for i in range(40)
    ]
    ts = _tokseq(spark, rows)
    kl = mixing._dsir_fit_literals_kernel(ts)
    sl = {r.b: int(r.lam) for r in mixing.dsir_lambda_table(ts).collect()}
    assert kl == [sl[b] for b in range(mixing.DSIR_BUCKETS)]


def test_retrieval_scalars_from_postings_with_wordless_docs(spark):
    """retrieval_topk derives avgdl from the materialized postings and
    n_docs from a one-row docs aggregate; wordless and NULL-text docs
    count toward n_docs with dl=0, so rows and scores must equal the
    DuckDB twin's, which averages per-doc word counts over all docs."""
    import duckdb

    rows = [
        (1, "alpha beta beta gamma"),
        (2, "alpha gamma gamma delta epsilon"),
        (3, ""),              # wordless: counted in n_docs, dl 0
        (4, "   "),           # whitespace-only: same
        (6, None),            # NULL text: same (not size(NULL) = -1)
        (5, "beta delta zeta eta theta iota"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in retrieval.retrieval_topk(
            docs, k=3, n_queries=2, terms_per_query=2
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            retrieval.retrieval_oracle_sql(
                k=3, n_queries=2, terms_per_query=2
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0
