"""Similarity search over embedding vectors (array<float>).

Baseline: brute-force cosine top-k (exact). Scale path: LSH-bucketed
(random-hyperplane signs) and IVF-style (coarse-bucket probe) variants
that turn the O(n*q) scan into bucket-local scans.

Cross-engine determinism: cosine over float32 embeddings is computed in
*double* precision with a sequential left-fold (Spark ``aggregate`` ==
DuckDB ``list_`` fold via explicit recursion-free reduce) — both engines
evaluate the same fold order, so scores hash equal (verified). Random
hyperplanes are deterministic affine constructions, not RNG.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.core.arrow_lists import list_array, read_fixed
from audio_feature_extraction_spark.core.materialize import materialize


def _dot_expr(a: str, b: str, spark: bool) -> str:
    """Sequential-fold dot product in double precision (order-fixed)."""
    if spark:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y), "
            f"cast(0.0 as double), (acc, v) -> acc + v)"
        )
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * {b}[i]))"
    )


def _norm_expr(a: str, spark: bool) -> str:
    if spark:
        return (
            f"sqrt(aggregate({a}, cast(0.0 as double), "
            f"(acc, v) -> acc + cast(v as double) * v))"
        )
    return f"sqrt(list_sum(list_transform({a}, v -> CAST(v AS DOUBLE) * v)))"


def cosine_expr(a: str, b: str, spark: bool) -> str:
    return f"({_dot_expr(a, b, spark)} / ({_norm_expr(a, spark)} * {_norm_expr(b, spark)}))"


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is small (broadcast); the big embedding table streams once —
    the classic brute-force ANN baseline. Cost O(|emb| * |q|); at 100 TB
    replace with the bucketed variants below.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    joined = emb.alias("e").crossJoin(F.broadcast(q))
    scored = joined.where(F.col("query_id") != F.col(id_col)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.expr(cosine_expr(f"e.{vec_col}", "qvec", spark=True)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def brute_force_topk_oracle_sql(
    query_filter: str, k: int = 5, from_clause: str = "embeddings"
) -> str:
    cos = cosine_expr("e.embedding", "q.embedding", spark=False)
    return (
        f"WITH q AS (SELECT vec_id AS query_id, embedding FROM {from_clause} "
        f"WHERE {query_filter}), "
        f"scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cosine "
        f"FROM {from_clause} e CROSS JOIN q WHERE e.vec_id != q.query_id), "
        f"ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        f"ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) "
        f"SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine "
        f"FROM ranked WHERE rank <= {k}"
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random-hyperplane signs)
# ---------------------------------------------------------------------------

def hyperplane_sign_expr(plane_idx: int, dim: int, spark: bool, vec: str) -> str:
    """Sign of <v, h_p> for a deterministic pseudo-random hyperplane:
    h_p[i] = ((p*1009 + i*9176 + 13) % 2001) - 1000  (zero-mean ints)."""
    coef = f"(({plane_idx} * 1009 + i * 9176 + 13) % 2001) - 1000"
    if spark:
        dot = (
            f"aggregate(transform(sequence(0, {dim - 1}), i -> "
            f"cast(element_at({vec}, cast(i + 1 as int)) as double) * ({coef})), "
            f"cast(0.0 as double), (a, v) -> a + v)"
        )
        return f"case when {dot} > 0 then 1 else 0 end"
    dot = (
        f"list_sum(list_transform(range(0, {dim}), i -> "
        f"CAST({vec}[i + 1] AS DOUBLE) * ({coef})))"
    )
    return f"CASE WHEN {dot} > 0 THEN 1 ELSE 0 END"


def lsh_bucket_expr(
    n_planes: int, dim: int, spark: bool, vec: str = "embedding", table: int = 0
) -> str:
    """Bucket id = concatenated hyperplane sign bits (int). ``table``
    selects a disjoint plane set (OR-amplification across tables)."""
    bits = [
        f"({hyperplane_sign_expr(table * n_planes + p, dim, spark, vec)}) * {1 << p}"
        for p in range(n_planes)
    ]
    return "(" + " + ".join(bits) + ")"


def _tables_expr(
    n_tables: int, n_planes: int, dim: int, vec: str = "embedding"
) -> str:
    """Spark: explode to (tbl, bucket) rows, one per hash table."""
    rows = ", ".join(
        f"struct({t} as tbl, {lsh_bucket_expr(n_planes, dim, True, vec, t)} as bucket)"
        for t in range(n_tables)
    )
    return f"inline(array({rows}))"


def _tables_union_sql(
    n_tables: int, n_planes: int, dim: int, from_clause: str, id_sel: str
) -> str:
    """DuckDB: (id..., tbl, bucket) rows via UNION ALL over tables."""
    return " UNION ALL ".join(
        f"SELECT {id_sel}, {t} AS tbl, "
        f"{lsh_bucket_expr(n_planes, dim, False, 'embedding', t)} AS bucket "
        f"FROM {from_clause}"
        for t in range(n_tables)
    )


# The vector kernels read their fixed-width columns through
# ``arrow_lists.read_fixed`` and DROP a row that is NULL, shorter than
# ``dim`` or NULL in one of its first ``dim`` elements (``on_error='skip'``
# semantics, like the media decode path) instead of letting one malformed
# row kill the whole job (ADVICE r02). The SQL twins differ on such input:
# ``element_at`` past the end yields NULL, which propagates to a NULL dot
# (bucket 0 / NULL cosine) — neither output is meaningful, so the kernels
# prefer the explicit drop. Elements beyond ``dim`` are ignored in both
# formulations. Passthrough columns stay Arrow buffers (filter/take).


def _pair_score_kernel(
    df: DataFrame, a_col: str, b_col: str, dim: int, dtype, score,
    out_col: str, out_type: str,
) -> DataFrame:
    """``mapInArrow`` that drops the two vector columns of ``df`` and
    appends ``out_col = score(A, B)`` over their ``(rows, dim)``
    matrices; rows malformed in either column are dropped."""
    keep = [c for c in df.columns if c not in (a_col, b_col)]
    keep_t = {f.name: f.dataType.simpleString() for f in df.schema.fields}

    def run(batches):
        for batch in batches:
            A, va = read_fixed(batch, a_col, dim, dtype)
            B, vb = read_fixed(batch, b_col, dim, dtype)
            ok = va & vb
            if not ok.any():
                continue
            kept = batch.filter(pa.array(ok)).select(keep)
            yield pa.RecordBatch.from_arrays(
                kept.columns + [score(A[vb[va]], B[va[vb]])],
                names=keep + [out_col],
            )

    schema = ", ".join([f"{c} {keep_t[c]}" for c in keep] + [f"{out_col} {out_type}"])
    return df.mapInArrow(run, schema=schema)


def lsh_buckets_kernel(
    df: DataFrame,
    n_tables: int,
    n_planes: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str | None = None,
) -> DataFrame:
    """Arrow-kernel twin of ``_tables_expr``: (id, vec, tbl, bucket) rows.

    Bit-identical to the SQL formulation: the hyperplane dot is evaluated
    as a SEQUENTIAL left fold over dimensions (``acc += v[:, i] * c_i``
    vectorized across rows adds in exactly the SQL ``aggregate`` order),
    so the float64 rounding — and therefore every sign — matches. The
    interpreted SQL lambdas re-evaluate n_tables*n_planes transforms per
    row and dominate the ANN bench, like MinHash before its kernel.
    """
    out_id = out_id or id_col
    n_hp = n_tables * n_planes

    def run(batches):
        # coef[p, i] = ((p*1009 + i*9176 + 13) % 2001) - 1000
        P = np.arange(n_hp, dtype=np.int64)[:, None]
        I = np.arange(dim, dtype=np.int64)[None, :]
        coef = ((P * 1009 + I * 9176 + 13) % 2001 - 1000).astype(np.float64)
        weights = 1 << (np.arange(n_hp, dtype=np.int64) % n_planes)
        tbl = np.arange(n_tables, dtype=np.int32)
        for batch in batches:
            V, ok = read_fixed(batch, vec_col, dim)
            n = len(V)
            if not n:
                continue
            # sequential left fold over dims — matches SQL aggregate()
            dots = np.zeros((n, n_hp), dtype=np.float64)
            for i in range(dim):
                dots += V[:, i : i + 1] * coef[:, i][None, :]
            weighted = (dots > 0) * weights[None, :]
            buckets = weighted.reshape(n, n_tables, n_planes).sum(axis=2)
            rows = pa.array(np.repeat(np.nonzero(ok)[0], n_tables))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col).take(rows),
                    batch.column(vec_col).take(rows),
                    pa.array(np.tile(tbl, n)),
                    pa.array(buckets.ravel().astype(np.int32)),
                ],
                names=[out_id, vec_col, "tbl", "bucket"],
            )

    id_type = dict(df.dtypes)[id_col]
    vec_type = dict(df.dtypes)[vec_col]
    return df.select(id_col, vec_col).mapInArrow(
        run,
        schema=f"{out_id} {id_type}, {vec_col} {vec_type}, tbl int, bucket int",
    )


def cosine_scores_kernel(
    df: DataFrame, a_col: str, b_col: str, dim: int, out_col: str = "cosine"
) -> DataFrame:
    """Arrow-kernel twin of ``cosine_expr`` — bit-identical doubles.

    dot and both norms are SEQUENTIAL left folds over dimensions (each
    ``acc += x*y`` rounds the product once then the add once, exactly
    like the SQL aggregate()), vectorized across rows. Drops the two
    vector columns and appends ``out_col``.
    """
    def score(A, B):
        dot = np.zeros(len(A))
        na = np.zeros(len(A))
        nb = np.zeros(len(A))
        for i in range(dim):
            x, y = A[:, i], B[:, i]
            dot += x * y
            na += x * x
            nb += y * y
        # a zero-norm vector's 0/0 reads NULL, as Spark's division by 0
        return pa.array(dot / (np.sqrt(na) * np.sqrt(nb)), from_pandas=True)

    return _pair_score_kernel(
        df, a_col, b_col, dim, np.float64, score, out_col, "double"
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_kernel: bool = True,
    score_kernel: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates restricted to hyperplane buckets,
    OR-amplified across ``n_tables`` independent hash tables. Equi-join
    on (tbl, bucket) instead of a cross join — the 100 TB shape. Recall
    < 1 by design; tested against the brute-force baseline."""
    if use_kernel:
        e = lsh_buckets_kernel(emb, n_tables, n_planes, dim, id_col, vec_col)
        q = lsh_buckets_kernel(
            queries, n_tables, n_planes, dim, id_col, vec_col, out_id="query_id"
        ).withColumnRenamed(vec_col, "qvec")
    else:
        texpr = _tables_expr(n_tables, n_planes, dim, vec_col)
        e = emb.select(F.col(id_col), F.col(vec_col), F.expr(texpr))
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.expr(texpr),
        )
    cands = (
        e.join(q, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col(id_col))
        .select("query_id", "qvec", id_col, vec_col)
        .dropDuplicates(["query_id", id_col])
    )
    if score_kernel:
        # bit-identical alternative, but measured SLOWER here: the joined
        # candidate fan-out must ship 2x64 floats/row through Arrow, which
        # costs more than the interpreted expr saves — bucket hashing is
        # pre-join (narrow) and kernels well; scoring is post-join and
        # belongs JVM-side. Kept for callers whose candidate sets are thin.
        scored = cosine_scores_kernel(
            cands.withColumnRenamed(id_col, "neighbor_id"), vec_col, "qvec", dim
        )
    else:
        scored = cands.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(cosine_expr(vec_col, "qvec", spark=True)).alias("cosine"),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def lsh_topk_oracle_sql(
    query_filter: str,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    from_clause: str = "embeddings",
) -> str:
    cos = cosine_expr("e.embedding", "q.embedding", spark=False)
    etab = _tables_union_sql(n_tables, n_planes, dim, from_clause, "vec_id")
    qtab = _tables_union_sql(
        n_tables, n_planes, dim, f"(SELECT * FROM {from_clause} WHERE {query_filter})",
        "vec_id AS query_id",
    )
    return (
        f"WITH eb AS ({etab}), qb AS ({qtab}), "
        f"cand AS (SELECT DISTINCT qb.query_id, eb.vec_id FROM eb "
        f"JOIN qb ON eb.tbl = qb.tbl AND eb.bucket = qb.bucket "
        f"AND eb.vec_id != qb.query_id), "
        f"scored AS (SELECT c.query_id, c.vec_id AS neighbor_id, {cos} AS cosine "
        f"FROM cand c JOIN {from_clause} e ON c.vec_id = e.vec_id "
        f"JOIN {from_clause} q ON c.query_id = q.vec_id), "
        f"ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        f"ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) "
        f"SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine "
        f"FROM ranked WHERE rank <= {k}"
    )


def quantized_vec_sql(
    dim: int, spark: bool, vec: str = "embedding", levels: int = 127
) -> str:
    """int8-style scalar quantization of the L2-NORMALIZED vector:
    ``q_i = floor(x_i / ||x|| * levels + 0.5)`` as a BIGINT array (all
    zeros for a zero-norm vector). floor of an identical float64 is
    engine-identical, so Spark, DuckDB and the numpy kernel agree bit
    for bit; every downstream proxy dot is then exact integer work."""
    if spark:
        nrm = _norm_expr(vec, spark=True)
        body = (
            f"case when _n = cast(0.0 as double) then cast(0 as bigint) "
            f"else cast(floor(cast(element_at({vec}, cast(i + 1 as int)) "
            f"as double) / _n * {float(levels):.1f}E0 + 0.5E0) as bigint) end"
        )
        # bind the norm once via the single-element transform "let" trick
        return (
            f"element_at(transform(array({nrm}), _n -> "
            f"transform(sequence(0, {dim - 1}), i -> {body})), 1)"
        )
    nrm = _norm_expr(vec, spark=False)
    # outer columns are not visible inside DuckDB lambdas, so both the
    # norm AND the vector itself are let-bound through the derived table
    return (
        f"(SELECT list_transform(range(0, {dim}), "
        f"i -> CASE WHEN _lt._n = 0.0 "
        f"THEN 0::BIGINT ELSE CAST(floor(CAST(_lt._v[i + 1] AS DOUBLE) / _lt._n "
        f"* {float(levels):.1f} + 0.5) AS BIGINT) END) "
        f"FROM (SELECT {vec} AS _v, {nrm} AS _n) _lt)"
    )


def quantize_kernel(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str | None = None,
    out_col: str = "qv",
    levels: int = 127,
) -> DataFrame:
    """Arrow-kernel twin of ``quantized_vec_sql`` — the norm is the same
    sequential left fold the SQL ``aggregate()`` computes, so the floor
    inputs (hence the integer codes) match exactly."""
    out_id = out_id or id_col
    id_type = dict(df.dtypes)[id_col]

    def run(batches):
        for batch in batches:
            M, ok = read_fixed(batch, vec_col, dim)
            if not len(M):
                continue
            nsq = np.zeros(len(M))
            for i in range(dim):
                nsq += M[:, i] * M[:, i]
            n = np.sqrt(nsq)
            safe = np.where(n == 0.0, 1.0, n)
            Q = np.floor(M / safe[:, None] * float(levels) + 0.5).astype(
                np.int64
            )
            Q[n == 0.0] = 0
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col).filter(pa.array(ok)), list_array(Q)],
                names=[out_id, out_col],
            )

    return df.select(id_col, vec_col).mapInArrow(
        run, schema=f"{out_id} {id_type}, {out_col} array<bigint>"
    )


def int_dot_scores_kernel(
    df: DataFrame, a_col: str, b_col: str, dim: int, out_col: str = "qdot"
) -> DataFrame:
    """Exact integer dot of two quantized-code arrays (order-independent
    — integer addition is associative, so any engine agrees). Drops the
    two code columns and appends ``out_col``."""
    def score(A, B):
        return pa.array((A * B).sum(axis=1))

    return _pair_score_kernel(
        df, a_col, b_col, dim, np.int64, score, out_col, "bigint"
    )


def lsh_rerank_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    candidates_per_query: int = 32,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_kernel: bool = True,
    score_kernel: bool = True,
) -> DataFrame:
    """Three-stage retrieval funnel: LSH buckets -> quantized-dot proxy
    prune to ``candidates_per_query`` -> exact-cosine re-rank
    (VERDICT r03 #7).

    Stage 1 (recall): candidates from (tbl, bucket) equi-joins across
    ``n_tables`` tables — wide OR-amplified recall. Stage 2 (proxy):
    each candidate pair is scored by the integer dot of int8-style
    quantized codes of the NORMALIZED vectors (the ADC scoring of an
    IVF-PQ-family index): exact integer work over 64 small ints, 8×
    smaller to ship/hold than the float vectors, and a near-exact
    cosine ranking (quantization error ~levels⁻¹); the top-C survivors
    per query advance. Stage 3 (precision): exact cosine on survivors
    only, kernelized (``cosine_scores_kernel``, the thin-candidate
    regime where the Arrow kernel wins).

    The 100 TB shape: recall (tables) is decoupled from exact-vector
    compute (bounded by C per query), and the pruning stage runs off a
    compact integer code table that fits in memory where the float
    vectors do not. Ties are deterministic: (qdot DESC, id) for
    pruning, (cosine DESC, id) for the final rank.
    """
    if use_kernel:
        e = lsh_buckets_kernel(
            emb, n_tables, n_planes, dim, id_col, vec_col
        ).drop(vec_col)
        q = lsh_buckets_kernel(
            queries, n_tables, n_planes, dim, id_col, vec_col,
            out_id="query_id",
        ).drop(vec_col)
        qv_e = quantize_kernel(emb, dim, id_col, vec_col)
        qv_q = quantize_kernel(
            queries, dim, id_col, vec_col, out_id="query_id", out_col="qqv"
        )
    else:
        texpr = _tables_expr(n_tables, n_planes, dim, vec_col)
        qexpr = quantized_vec_sql(dim, spark=True, vec=vec_col)
        e = emb.select(F.col(id_col), F.expr(texpr))
        q = queries.select(F.col(id_col).alias("query_id"), F.expr(texpr))
        qv_e = emb.select(F.col(id_col), F.expr(qexpr).alias("qv"))
        qv_q = queries.select(
            F.col(id_col).alias("query_id"), F.expr(qexpr).alias("qqv")
        )
    cands = (
        e.join(q, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col)
        .dropDuplicates(["query_id", id_col])
    )
    paired_codes = cands.join(qv_e, id_col).join(qv_q, "query_id")
    if use_kernel:
        prox = int_dot_scores_kernel(paired_codes, "qv", "qqv", dim)
    else:
        prox = paired_codes.select(
            "query_id",
            id_col,
            F.expr(
                "aggregate(zip_with(qv, qqv, (a, b) -> a * b), "
                "cast(0 as bigint), (s, x) -> s + x)"
            ).alias("qdot"),
        )
    prune_w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col(id_col)
    )
    survivors = (
        prox.withColumn("_cr", F.row_number().over(prune_w))
        .where(F.col("_cr") <= candidates_per_query)
        .select("query_id", id_col)
    )
    paired = (
        survivors.join(emb.select(id_col, vec_col), id_col)
        .join(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("qvec"),
            ),
            "query_id",
        )
        .withColumnRenamed(id_col, "neighbor_id")
    )
    if score_kernel:
        scored = cosine_scores_kernel(paired, vec_col, "qvec", dim)
    else:
        scored = paired.select(
            "query_id",
            "neighbor_id",
            F.expr(cosine_expr(vec_col, "qvec", spark=True)).alias("cosine"),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def lsh_rerank_topk_oracle_sql(
    query_filter: str,
    k: int = 5,
    candidates_per_query: int = 32,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    from_clause: str = "embeddings",
) -> str:
    cos = cosine_expr("e.embedding", "q.embedding", spark=False)
    qv = quantized_vec_sql(dim, spark=False)
    qdot = (
        f"list_sum(list_transform(range(0, {dim}), "
        f"i -> se.qv[i + 1] * sq.qqv[i + 1]))"
    )
    etab = _tables_union_sql(n_tables, n_planes, dim, from_clause, "vec_id")
    qtab = _tables_union_sql(
        n_tables, n_planes, dim,
        f"(SELECT * FROM {from_clause} WHERE {query_filter})",
        "vec_id AS query_id",
    )
    return (
        f"WITH eb AS ({etab}), qb AS ({qtab}), "
        f"se AS (SELECT vec_id, {qv} AS qv FROM {from_clause}), "
        f"sq AS (SELECT vec_id AS query_id, {qv} AS qqv "
        f"FROM {from_clause} WHERE {query_filter}), "
        f"cand AS (SELECT DISTINCT qb.query_id, eb.vec_id FROM eb "
        f"JOIN qb ON eb.tbl = qb.tbl AND eb.bucket = qb.bucket "
        f"AND eb.vec_id != qb.query_id), "
        f"prox AS (SELECT c.query_id, c.vec_id, {qdot} AS qdot "
        f"FROM cand c JOIN se ON c.vec_id = se.vec_id "
        f"JOIN sq ON c.query_id = sq.query_id), "
        f"surv AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, "
        f"row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, "
        f"vec_id) AS cr FROM prox) _p WHERE cr <= {candidates_per_query}), "
        f"scored AS (SELECT s.query_id, s.vec_id AS neighbor_id, {cos} AS cosine "
        f"FROM surv s JOIN {from_clause} e ON s.vec_id = e.vec_id "
        f"JOIN {from_clause} q ON s.query_id = q.vec_id), "
        f"ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        f"ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) "
        f"SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine "
        f"FROM ranked WHERE rank <= {k}"
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float = 0.1,
) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer -> inverted lists; queries
    probe their ``nprobe`` nearest centroids and scan only those lists.

    The scale path when data has cluster structure: candidate volume is
    ~nprobe/n_lists of the table, shuffled by list id. Centroids are fit
    on a seeded ``fit_fraction`` sample (KMeans over the FULL table would
    be a multi-pass 100 TB scan per iteration; a sample estimates the same
    cell structure), broadcast everywhere — exactly how production IVF
    indexes ship their codebooks. (No SQL oracle: KMeans is iterative —
    driver records rows-only; see ``ivf_topk_pivots`` for the
    deterministic, oracle-checked variant.)
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    with_vec = emb.withColumn("_v", array_to_vector(F.col(vec_col)))
    km = KMeans(k=n_lists, seed=seed, featuresCol="_v", predictionCol="_list")
    fit_rows = with_vec.select("_v")
    if fit_fraction < 1.0:
        fit_rows = fit_rows.sample(fraction=fit_fraction, seed=seed)
    model = km.fit(fit_rows)
    centers = [c.tolist() for c in model.clusterCenters()]

    lists = model.transform(with_vec).select(id_col, vec_col, "_list")

    # queries probe the nprobe nearest centroids (tiny cross join with a
    # literal centroid table, then rank)
    centers_df = F.broadcast(
        emb.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(centers)], "_list int, _center array<double>"
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    qd = q.crossJoin(centers_df).withColumn(
        "_dist",
        F.expr(
            "aggregate(zip_with(qvec, _center, (a, b) -> (cast(a as double) - b) "
            "* (cast(a as double) - b)), cast(0.0 as double), (s, x) -> s + x)"
        ),
    )
    wq = Window.partitionBy("query_id").orderBy("_dist", "_list")
    probes = (
        qd.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") <= nprobe)
        .select("query_id", "qvec", "_list")
    )

    cands = lists.join(probes, "_list").where(F.col("query_id") != F.col(id_col))
    scored = cands.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.expr(cosine_expr(vec_col, "qvec", spark=True)).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _sqdist_expr(a: str, b: str, spark: bool) -> str:
    """Squared L2 distance, double precision, order-fixed sequential fold."""
    if spark:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"(cast(x as double) - cast(y as double)) * "
            f"(cast(x as double) - cast(y as double))), "
            f"cast(0.0 as double), (s, v) -> s + v)"
        )
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


def ivf_topk_pivots(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a DETERMINISTIC coarse quantizer: the ``n_lists``
    lowest-id vectors act as pivots (one-step k-medoids init). Everything
    is closed-form, so the whole query has a DuckDB oracle — unlike the
    iterative KMeans variant.

    Plan shape: the pivot table aggregates to ONE array-typed row that
    broadcast-cross-joins both sides; assignment/probing are per-row
    higher-order-function expressions (zero extra shuffle), then the
    candidate join is an equi-join on list id — the same 100 TB shape as
    ``ivf_topk``.
    """
    cents = emb.where(F.col(id_col) < n_lists).select(
        F.col(id_col).cast("int").alias("l"),
        F.col(vec_col).cast("array<double>").alias("c"),
    )
    # one row: sorted array of (l, c) structs (collect_list order is not
    # deterministic — array_sort pins it)
    cent_arr = F.broadcast(
        cents.agg(F.array_sort(F.collect_list(F.struct("l", "c"))).alias("_cents"))
    )
    ranked_lists = (
        "array_sort(transform(_cents, ct -> "
        f"struct({_sqdist_expr(vec_col, 'ct.c', True)} AS d, ct.l AS l)))"
    )
    lists = (
        emb.crossJoin(cent_arr)
        .withColumn("_list", F.expr(f"element_at({ranked_lists}, 1).l"))
        .select(id_col, vec_col, "_list")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    probes = (
        q.crossJoin(cent_arr)
        .select(
            "query_id",
            "qvec",
            F.explode(
                F.expr(
                    f"transform(slice({ranked_lists.replace(vec_col, 'qvec')}, "
                    f"1, {nprobe}), s -> s.l)"
                )
            ).alias("_list"),
        )
    )
    # a vector lives in exactly one list, so probe fan-out cannot duplicate
    # (query, neighbor) pairs — no dedup needed
    cands = lists.join(probes, "_list").where(F.col("query_id") != F.col(id_col))
    scored = cands.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.expr(cosine_expr(vec_col, "qvec", spark=True)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ivf_topk_pivots_oracle_sql(
    query_filter: str,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    from_clause: str = "embeddings",
) -> str:
    dist_e = _sqdist_expr("e.embedding", "ct.c", False)
    dist_q = _sqdist_expr("q.embedding", "ct.c", False)
    cos = cosine_expr("e.embedding", "q.embedding", spark=False)
    return (
        f"WITH cents AS (SELECT list(struct_pack(l := CAST(vec_id AS INTEGER), "
        f"c := CAST(embedding AS DOUBLE[])) ORDER BY vec_id) AS _cents "
        f"FROM {from_clause} WHERE vec_id < {n_lists}), "
        f"lists AS (SELECT e.vec_id, e.embedding, "
        f"(list_sort(list_transform(_cents, ct -> "
        f"struct_pack(d := {dist_e}, l := ct.l)))[1]).l AS _list "
        f"FROM {from_clause} e CROSS JOIN cents), "
        f"probes AS (SELECT q.vec_id AS query_id, q.embedding AS qvec, "
        f"unnest(list_transform(list_sort(list_transform(_cents, ct -> "
        f"struct_pack(d := {dist_q}, l := ct.l)))[1:{nprobe}], s -> s.l)) AS _list "
        f"FROM (SELECT * FROM {from_clause} WHERE {query_filter}) q "
        f"CROSS JOIN cents), "
        f"scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, "
        f"{cos.replace('q.embedding', 'p.qvec')} AS cosine "
        f"FROM lists e JOIN probes p ON e._list = p._list "
        f"AND e.vec_id != p.query_id), "
        f"ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        f"ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) "
        f"SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine "
        f"FROM ranked WHERE rank <= {k}"
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_kernel: bool = True,
    score_kernel: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, bucket-restricted
    across n_tables hash tables (embedding analog of MinHash-LSH dedup)."""
    if use_kernel:
        e = lsh_buckets_kernel(emb, n_tables, n_planes, dim, id_col, vec_col)
    else:
        texpr = _tables_expr(n_tables, n_planes, dim, vec_col)
        e = emb.select(F.col(id_col), F.col(vec_col), F.expr(texpr))
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("va"),
            F.col(f"b.{vec_col}").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if score_kernel:
        pairs = cosine_scores_kernel(pairs, "va", "vb", dim)
    else:
        pairs = pairs.select(
            "id_a",
            "id_b",
            F.expr(cosine_expr("va", "vb", spark=True)).alias("cosine"),
        )
    return pairs.where(F.col("cosine") >= threshold)


def embedding_near_dups_oracle_sql(
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    from_clause: str = "embeddings",
) -> str:
    etab = _tables_union_sql(n_tables, n_planes, dim, from_clause, "vec_id")
    cos = cosine_expr("ea.embedding", "eb.embedding", spark=False)
    return (
        f"WITH t AS ({etab}), "
        f"cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b "
        f"FROM t a JOIN t b ON a.tbl = b.tbl AND a.bucket = b.bucket "
        f"AND a.vec_id < b.vec_id) "
        f"SELECT c.id_a, c.id_b, {cos} AS cosine "
        f"FROM cand c JOIN {from_clause} ea ON c.id_a = ea.vec_id "
        f"JOIN {from_clause} eb ON c.id_b = eb.vec_id "
        f"WHERE {cos} >= {threshold}"
    )


# ---------------------------------------------------------------------------
# SemDeDup — cluster-then-threshold semantic dedup (Abbas et al. 2023)
# ---------------------------------------------------------------------------
# The LSH near-dup pass (embedding_near_dups) restricts candidate pairs
# by hash-bucket collision; SemDeDup restricts them by CLUSTER
# membership instead: k-means the embeddings, then inside each cluster
# drop every vector that has a sufficiently-cosine-similar neighbor
# with a lower id. Clustering concentrates semantic near-dups into the
# same cell far more reliably than random hyperplanes at equal candidate
# budget, at the price of the assignment pass.
#
# Engine formulation (everything closed-form so DuckDB can twin it):
# the coarse quantizer is the deterministic one-step k-medoids init
# shared with ivf_topk_pivots (n_clusters lowest-id vectors), and the
# "semantic duplicate" rule is dominance — vector b is dropped iff some
# same-cluster a < b has cosine(a, b) >= threshold; the emitted row is
# (a*, b, cosine) with a* the LOWEST dominating id, so the output is
# exactly one row per dropped vector and the survivor set is
# {all ids} \ {id_b}. (The full transitive-closure grouping is
# connected_components in operators/dedup.py — dominance is the
# one-pass SemDeDup policy, closure is the strict-grouping policy.)
#
# 100 TB shape: the centroid table broadcasts (one array-typed row);
# assignment is a narrow per-row expression (zero shuffle); the only
# exchange is the self-join keyed on cluster id. Cluster population is
# the knob that bounds the quadratic term — at corpus scale you run
# n_clusters ~ sqrt(n) (SemDeDup used 50k clusters for LAION-scale), so
# per-cell pair counts stay ~O(n) total; a hot cell is visible in the
# assignment histogram before the join runs (same accounting as the LSH
# bucket caps).


def semdedup_assign_kernel(
    emb: DataFrame,
    n_clusters: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-kernel twin of the semdedup assignment expression —
    (id, vec, _cl) rows, bit-identical doubles.

    Each centroid squared distance accumulates as a SEQUENTIAL left
    fold over dimensions ((x-y)^2 rounded once, then one add —
    vectorized across rows and centroids, exactly the SQL
    ``aggregate(zip_with(...))`` rounding sequence), and ``np.argmin``'s
    first-occurrence rule over the l-ascending centroid matrix matches
    the expression's ``array_sort(struct(d, l))`` tie-break. The
    centroid table is collected driver-side — bounded by ``n_clusters``
    rows by construction, the same contract as the PQ codebook.
    ``dim`` must equal the vector length (the expression twin folds the
    whole array; the kernel folds exactly ``dim``)."""
    cents = sorted(
        emb.where(F.col(id_col) < n_clusters)
        .select(
            F.col(id_col).cast("int").alias("l"),
            F.col(vec_col).cast("array<double>").alias("c"),
        )
        .collect(),
        key=lambda r: r.l,
    )
    if not cents:
        raise ValueError(
            f"semdedup: no pivot vectors ({id_col} < {n_clusters} matched "
            f"nothing) — the deterministic quantizer needs the lowest-id "
            f"vectors present"
        )
    C0 = np.stack([np.asarray(r.c, dtype=np.float64) for r in cents])
    ls0 = np.array([r.l for r in cents], dtype=np.int32)
    bc = emb.sparkSession.sparkContext.broadcast((C0, ls0))

    def run(batches):
        C, ls = bc.value
        k = C.shape[0]
        for batch in batches:
            V, ok = read_fixed(batch, vec_col, dim)
            if not len(V):
                continue
            D = np.zeros((len(V), k), dtype=np.float64)
            for i in range(dim):
                diff = V[:, i : i + 1] - C[:, i][None, :]
                D += diff * diff
            idx = np.argmin(D, axis=1)       # first min -> lowest l
            kept = batch.filter(pa.array(ok))
            yield pa.RecordBatch.from_arrays(
                [kept.column(id_col), kept.column(vec_col), pa.array(ls[idx])],
                names=[id_col, vec_col, "_cl"],
            )

    id_type = dict(emb.dtypes)[id_col]
    vec_type = dict(emb.dtypes)[vec_col]
    return emb.select(id_col, vec_col).mapInArrow(
        run, schema=f"{id_col} {id_type}, {vec_col} {vec_type}, _cl int"
    )


def semdedup_pairs(
    emb: DataFrame,
    threshold: float = 0.2,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    use_kernel: bool = True,
    score_kernel: bool = False,
    max_cell_size: int | None = None,
) -> DataFrame:
    """One row per semantically-dropped vector: (id_a, id_b, cosine)
    where ``id_a`` is the lowest same-cluster dominator of ``id_b``.

    ``use_kernel`` routes the assignment pass through the Arrow kernel
    (bit-identical, tested — the interpreted n_clusters×dim HOF
    expression dominates the wall clock otherwise, like MinHash/LSH
    before their kernels); ``score_kernel`` does the same for the pair
    cosines via :func:`cosine_scores_kernel`. ``dim=None`` probes the
    vector width from one row (driver-side, O(1)).

    ``max_cell_size`` is the hard guard against degenerate clusterings
    (a corpus dominated by one embedding mode puts n vectors in one
    cell → n² pairs): overflowing cells are EXCLUDED from the self-join
    and counted via :func:`semdedup_overflow_cells` — no silent
    truncation; at 100 TB run that report alongside and re-cluster the
    overflow cells with more pivots (the LSH bucket-cap discipline)."""
    if dim is None and (use_kernel or score_kernel):
        first = emb.select(F.size(vec_col).alias("d")).first()
        dim = int(first.d) if first is not None else 0
    if use_kernel:
        assigned = semdedup_assign_kernel(
            emb, n_clusters, dim, id_col, vec_col
        )
    else:
        cents = emb.where(F.col(id_col) < n_clusters).select(
            F.col(id_col).cast("int").alias("l"),
            F.col(vec_col).cast("array<double>").alias("c"),
        )
        cent_arr = F.broadcast(
            cents.agg(
                F.array_sort(F.collect_list(F.struct("l", "c"))).alias("_cents")
            )
        )
        ranked = (
            "array_sort(transform(_cents, ct -> "
            f"struct({_sqdist_expr(vec_col, 'ct.c', True)} AS d, ct.l AS l)))"
        )
        assigned = (
            emb.crossJoin(cent_arr)
            .withColumn("_cl", F.expr(f"element_at({ranked}, 1).l"))
            .select(id_col, vec_col, "_cl")
        )
    if max_cell_size is not None:
        sizes = assigned.groupBy("_cl").agg(F.count("*").alias("_cell_n"))
        assigned = (
            assigned.join(sizes, "_cl")
            .where(F.col("_cell_n") <= max_cell_size)
            .drop("_cell_n")
        )
    # materialize the assignment once (r06): both sides of the cluster
    # self-join reference it, and as a lazy plan each side re-ran the
    # full centroid-assignment pass (Arrow kernel or HOF expression)
    # over the corpus
    assigned = materialize(assigned)
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = a.join(
        b,
        (F.col("a._cl") == F.col("b._cl"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col(f"a.{vec_col}").alias("va"),
        F.col(f"b.{vec_col}").alias("vb"),
    )
    if score_kernel:
        scored = cosine_scores_kernel(pairs, "va", "vb", dim)
    else:
        scored = pairs.select(
            "id_a",
            "id_b",
            F.expr(cosine_expr("va", "vb", spark=True)).alias("cosine"),
        )
    dup = scored.where(F.col("cosine") >= threshold)
    w = Window.partitionBy("id_b").orderBy("id_a")
    return (
        dup.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("id_a", "id_b", "cosine")
    )


def semdedup_overflow_cells(
    emb: DataFrame,
    n_clusters: int = 16,
    max_cell_size: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """The accounting side of the cell cap: (_cl, n_vecs) for every
    cluster cell the capped pair pass skipped."""
    if dim is None:
        first = emb.select(F.size(vec_col).alias("d")).first()
        dim = int(first.d) if first is not None else 0
    assigned = semdedup_assign_kernel(emb, n_clusters, dim, id_col, vec_col)
    return (
        assigned.groupBy("_cl")
        .agg(F.count("*").alias("n_vecs"))
        .where(F.col("n_vecs") > max_cell_size)
    )


def semdedup_pairs_oracle_sql(
    threshold: float = 0.2,
    n_clusters: int = 16,
    from_clause: str = "embeddings",
) -> str:
    dist = _sqdist_expr("e.embedding", "ct.c", False)
    cos = cosine_expr("a.embedding", "b.embedding", spark=False)
    return (
        f"WITH sd_cents AS (SELECT list(struct_pack("
        f"l := CAST(vec_id AS INTEGER), c := CAST(embedding AS DOUBLE[])) "
        f"ORDER BY vec_id) AS _cents "
        f"FROM {from_clause} WHERE vec_id < {n_clusters}), "
        f"sd_asg AS (SELECT e.vec_id, e.embedding, "
        f"(list_sort(list_transform(_cents, ct -> "
        f"struct_pack(d := {dist}, l := ct.l)))[1]).l AS _cl "
        f"FROM {from_clause} e CROSS JOIN sd_cents), "
        f"sd_dup AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"{cos} AS cosine "
        f"FROM sd_asg a JOIN sd_asg b ON a._cl = b._cl "
        f"AND a.vec_id < b.vec_id WHERE {cos} >= {threshold}), "
        f"sd_rk AS (SELECT *, row_number() OVER "
        f"(PARTITION BY id_b ORDER BY id_a) AS _rn FROM sd_dup) "
        f"SELECT id_a, id_b, cosine FROM sd_rk WHERE _rn = 1"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression ANN path
# ---------------------------------------------------------------------------
# At 10^9+ vectors the embedding column itself is the bottleneck: dim
# float64s/row do not fit executor memory or scan budgets. PQ stores m
# small codes per vector (m bytes at codes<=256) and scores candidates
# against a per-query lookup table, fetching full vectors only for the
# shortlist that survives. Everything here is EXACT integer arithmetic
# over the engine's deterministic int8-style quantization
# (quantized_vec_sql), with deterministic codebooks (the `codes`
# lowest-id vectors' subvectors — same one-step-k-medoids trick as
# ivf_topk_pivots), so the whole query has a DuckDB value oracle.


def _int_sqdist_terms(a: str, b: str, off: str, n: int, spark: bool) -> str:
    """Exact integer squared distance between a[off+1..off+n] and
    b[off+1..off+n] (off is an SQL expression, may reference lambda
    vars)."""
    if spark:
        return (
            f"aggregate(sequence(1, {n}), cast(0 as bigint), (acc, ii) -> "
            f"acc + (element_at({a}, {off} + ii) - element_at({b}, {off} + ii)) "
            f"* (element_at({a}, {off} + ii) - element_at({b}, {off} + ii)))"
        )
    return (
        f"list_sum(list_transform(range(1, {n} + 1), ii -> "
        f"({a}[{off} + ii] - {b}[{off} + ii]) * "
        f"({a}[{off} + ii] - {b}[{off} + ii])))"
    )


def _pq_enc_expr(j: int, dsub: int, spark: bool, qv: str = "qv") -> str:
    """Code for subspace ``j``: argmin over the codebook of the integer
    squared distance, ties to the lowest pivot index."""
    if spark:
        d = _int_sqdist_terms(qv, "cb.c", str(j * dsub), dsub, True)
        return (
            f"element_at(array_sort(transform(_cb, cb -> "
            f"struct({d} as d, cb.i as i))), 1).i"
        )
    d = _int_sqdist_terms(qv, "cb.c", str(j * dsub), dsub, False)
    return (
        f"(list_sort(list_transform(_cb, cb -> "
        f"struct_pack(d := {d}, i := cb.i)))[1]).i"
    )


def _pq_adc_expr(m: int, dsub: int, spark: bool) -> str:
    """Asymmetric distance: sum over subspaces of the exact integer
    squared distance between the query's quantized subvector and the
    vector's ASSIGNED CENTROID subvector (codes -> codebook lookup)."""
    if spark:
        inner = _int_sqdist_terms(
            "q_qv",
            "element_at(_cb, element_at(codes, j + 1) + 1).c",
            f"j * {dsub}",
            dsub,
            True,
        )
        return (
            f"aggregate(sequence(0, {m - 1}), cast(0 as bigint), "
            f"(acc, j) -> acc + {inner})"
        )
    inner = _int_sqdist_terms(
        "q_qv", "_cb[codes[j + 1] + 1].c", f"j * {dsub}", dsub, False
    )
    return f"list_sum(list_transform(range(0, {m}), j -> {inner}))"


def train_codebook(
    emb: DataFrame,
    dim: int = 64,
    m: int = 16,
    codes: int = 32,
    sample_n: int = 2048,
    iters: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic per-subspace Lloyd (k-means) PQ codebook trainer
    (VERDICT r04 #4). Returns a (codes x dim) int64 numpy array whose
    row i is pivot i — pass it to :func:`pq_topk`'s ``codebook=``.

    Everything is reproducible and exact-integer so the trained
    codebook composes with the oracle-checkable ADC arithmetic:

    * the training sample is the ``sample_n`` lowest-id vectors
      (hash-order sampling would also be deterministic; lowest-id keeps
      the DuckDB twin trivial), QUANTIZED with the same fixed-point
      norm the encoder uses;
    * per subspace: centroids init to the first ``codes`` sample
      subvectors, Lloyd assignment breaks distance ties to the lowest
      centroid index, means are rounded back to int64 each iteration
      (so ADC stays integer-exact), and an emptied cluster keeps its
      previous centroid;
    * training is OFFLINE and driver-side over a bounded sample —
      quantization/encoding of the corpus stays a per-row JVM
      expression (or the LUT kernel) over the broadcast result.
    """
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    rows = (
        emb.select(
            id_col,
            F.expr(quantized_vec_sql(dim, spark=True, vec=vec_col)).alias("qv"),
        )
        .orderBy(id_col)
        .limit(sample_n)
        .collect()
    )
    X = np.stack([np.asarray(r["qv"], dtype=np.int64) for r in rows])
    if len(X) < codes:
        raise ValueError(f"sample ({len(X)}) smaller than codes={codes}")
    out = np.empty((codes, dim), dtype=np.int64)
    for j in range(m):
        Xj = X[:, j * dsub : (j + 1) * dsub]
        C = Xj[:codes].copy()
        for _ in range(iters):
            d = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)  # argmin ties -> lowest index
            newC = C.copy()
            for c in range(codes):
                members = Xj[assign == c]
                if len(members):
                    newC[c] = np.rint(members.mean(axis=0)).astype(np.int64)
            if (newC == C).all():
                break
            C = newC
        out[:, j * dsub : (j + 1) * dsub] = C
    return out


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m: int = 16,
    codes: int = 32,
    shortlist: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_kernel: bool = False,
    max_kernel_queries: int = 10_000,
    codebook=None,
) -> DataFrame:
    """PQ ANN: encode -> ADC shortlist -> exact-cosine re-rank.

    Plan shape: quantization and encoding are per-row expressions over a
    broadcast codebook (zero shuffle); the scoring pass touches only
    (id, m codes) — the compressed table — against broadcast queries;
    full vectors are joined back ONLY for the per-query ``shortlist``
    (the memory story: at 10^12 vectors the codes table is ~m bytes/row
    vs 8*dim, and the wide scan is deferred to shortlist*|Q| rows).
    Deterministic tie-breaks ((adc, id), then (cosine desc, id)) keep
    the whole funnel oracle-checkable.

    ``codebook``: optional (codes x dim) int array from
    :func:`train_codebook` (or any int source). Default None keeps the
    oracle-checkable pivot codebook (the ``codes`` lowest-id vectors);
    a trained codebook buys recall at equal ``m`` —
    ``scripts/pq_sweep.py`` publishes the pivot-vs-trained curve.
    """
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    spark = emb.sparkSession
    base = emb.select(
        id_col, F.expr(quantized_vec_sql(dim, spark=True, vec=vec_col)).alias("qv")
    )
    if codebook is not None:
        cb_rows = [[int(x) for x in row] for row in codebook]
        if len(cb_rows) != codes or any(len(r) != dim for r in cb_rows):
            raise ValueError(
                f"codebook must be {codes} x {dim}, got "
                f"{len(cb_rows)} x {len(cb_rows[0]) if cb_rows else 0}"
            )
        cb = F.broadcast(
            spark.range(1).select(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).cast("int").alias("i"),
                            F.array(
                                *[F.lit(x).cast("bigint") for x in row]
                            ).alias("c"),
                        )
                        for i, row in enumerate(cb_rows)
                    ]
                ).alias("_cb")
            )
        )
    else:
        cb = F.broadcast(
            base.where(F.col(id_col) < codes).agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(id_col).cast("int").alias("i"),
                            F.col("qv").alias("c"),
                        )
                    )
                ).alias("_cb")
            )
        )
    encoded = (
        base.crossJoin(cb)
        .withColumn(
            "codes",
            F.array(
                *[F.expr(_pq_enc_expr(j, dsub, spark=True)) for j in range(m)]
            ),
        )
        .select(id_col, "codes", "_cb")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(quantized_vec_sql(dim, spark=True, vec=vec_col)).alias("q_qv"),
    )
    if use_kernel:
        # the scale scoring path: per-query (m x codes) integer LUT,
        # O(m) lookups per vector, batch-local shortlists only
        # The kernel is a SERVING path: queries are collected to the
        # driver and broadcast into the LUT. Fail fast with guidance
        # instead of letting an unbounded query frame OOM the driver
        # (limit+1 probes the bound in one pushed-down pass).
        probe = q.limit(max_kernel_queries + 1).collect()
        if len(probe) > max_kernel_queries:
            raise ValueError(
                f"pq_topk(use_kernel=True) collected more than "
                f"max_kernel_queries={max_kernel_queries} query rows; "
                f"the LUT kernel broadcasts the query set and is meant "
                f"for serving-scale |Q|. For bulk query frames use "
                f"use_kernel=False (the distributed expression path), "
                f"raise max_kernel_queries deliberately, or chunk the "
                f"query frame and union the results."
            )
        q_rows = [(r["query_id"], r["q_qv"]) for r in probe]
        if codebook is not None:
            cb_matrix = np.asarray(codebook, dtype=np.int64)
        else:
            cb_sorted = sorted(
                base.where(F.col(id_col) < codes).collect(),
                key=lambda r: r[id_col],
            )
            cb_matrix = np.stack(
                [np.asarray(r["qv"], dtype=np.int64) for r in cb_sorted]
            )
        pairs = pq_adc_scores_kernel(
            encoded.drop("_cb"), q_rows, cb_matrix, m, dsub, shortlist,
            id_col,
        )
    else:
        pairs = (
            encoded.join(F.broadcast(q), F.col("query_id") != F.col(id_col))
            .withColumn("adc", F.expr(_pq_adc_expr(m, dsub, spark=True)))
            .select("query_id", F.col(id_col).alias("neighbor_id"), "adc")
        )
    w_short = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    short = (
        pairs.withColumn("_rn", F.row_number().over(w_short))
        .where(F.col("_rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: fetch full vectors for the shortlist only
    ev = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"))
    qv_full = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    scored = (
        short.join(ev, "neighbor_id")
        .join(qv_full, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(cosine_expr("nvec", "qvec", spark=True)).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def pq_topk_oracle_sql(
    query_filter: str,
    k: int = 5,
    dim: int = 64,
    m: int = 16,
    codes: int = 32,
    shortlist: int = 64,
    from_clause: str = "embeddings",
) -> str:
    dsub = dim // m
    enc = ", ".join(
        _pq_enc_expr(j, dsub, spark=False) for j in range(m)
    )
    cos = cosine_expr("ev.embedding", "qf.embedding", spark=False)
    return (
        f"WITH qe AS (SELECT vec_id, "
        f"{quantized_vec_sql(dim, spark=False)} AS qv FROM {from_clause}), "
        f"cbt AS (SELECT list(struct_pack(i := CAST(vec_id AS INTEGER), "
        f"c := qv) ORDER BY vec_id) AS _cb FROM qe WHERE vec_id < {codes}), "
        f"enc AS (SELECT vec_id, [{enc}] AS codes FROM qe CROSS JOIN cbt), "
        f"qq AS (SELECT vec_id AS query_id, qv AS q_qv FROM qe "
        f"WHERE {query_filter}), "
        f"pairs AS (SELECT qq.query_id, e.vec_id AS neighbor_id, "
        f"{_pq_adc_expr(m, dsub, spark=False)} AS adc "
        f"FROM enc e CROSS JOIN cbt CROSS JOIN qq "
        f"WHERE e.vec_id != qq.query_id), "
        f"short AS (SELECT query_id, neighbor_id FROM (SELECT *, "
        f"row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) "
        f"AS _rn FROM pairs) _s WHERE _rn <= {shortlist}), "
        f"scored AS (SELECT s.query_id, s.neighbor_id, {cos} AS cosine "
        f"FROM short s JOIN {from_clause} ev ON s.neighbor_id = ev.vec_id "
        f"JOIN {from_clause} qf ON s.query_id = qf.vec_id) "
        f"SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine "
        f"FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
        f"ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) _r "
        f"WHERE rank <= {k}"
    )


def pq_adc_scores_kernel(
    encoded: DataFrame,
    query_rows: list[tuple],
    cb_matrix,
    m: int,
    dsub: int,
    shortlist: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """LUT-based ADC scoring — the scale path the expression form only
    emulates: per query a (m x codes) integer lookup table is built ONCE
    from its quantized subvectors, and scoring a vector is m table
    lookups + a sum (O(m), not O(dim)). Each Arrow batch emits only its
    local (adc, id)-ordered ``shortlist`` per query, so the exchange
    carries partitions x queries x shortlist tiny rows, never the full
    score matrix. Exact-integer arithmetic end to end — bit-identical
    to the expression path (tested).

    ``query_rows``: [(query_id, qv_int_list)] — broadcast-scale, same
    assumption as every query side here. ``cb_matrix``: (codes x dim)
    int64 numpy array of quantized pivot vectors, row i = pivot i.
    """
    qids = [q for q, _ in query_rows]
    Q = np.stack([np.asarray(v, dtype=np.int64) for _, v in query_rows])
    codes_n = cb_matrix.shape[0]
    # LUT[q, j, c] = || Q[q, j*dsub:(j+1)*dsub] - cb[c, j*dsub:(j+1)*dsub] ||^2
    Qs = Q.reshape(len(qids), m, dsub)                # (|Q|, m, dsub)
    Cs = cb_matrix.reshape(codes_n, m, dsub)          # (codes, m, dsub)
    diff = Qs[:, None, :, :] - Cs[None, :, :, :]      # (|Q|, codes, m, dsub)
    lut = (diff * diff).sum(axis=3).transpose(0, 2, 1)  # (|Q|, m, codes)

    id_type = dict(encoded.dtypes)[id_col]

    def run(batches):
        j_idx = np.arange(m)[None, :]
        for batch in batches:
            C, ok = read_fixed(batch, "codes", m, np.int64)   # (n, m)
            if not len(C):
                continue
            id_arr = batch.column(id_col).filter(pa.array(ok))
            ids = id_arr.to_numpy(zero_copy_only=False)
            q_pos, n_pos, adcs = [], [], []
            for qi, qid in enumerate(qids):
                adc = lut[qi][j_idx, C].sum(axis=1)    # (n,)
                pos = np.nonzero(ids != qid)[0]
                a = adc[pos]
                if len(a) > shortlist:
                    # Tie-safe partial select: keep EVERYTHING at or below
                    # the shortlist-th smallest adc (argpartition on adc
                    # alone could drop an equal-adc, lower-id candidate at
                    # the cut), then let the lexsort below break ties on id.
                    part = np.argpartition(a, shortlist - 1)
                    thresh = a[part[shortlist - 1]]
                    tied = a <= thresh
                    a, pos = a[tied], pos[tied]
                order = np.lexsort((ids[pos], a))[:shortlist]  # (adc, id)
                q_pos.append(np.full(len(order), qi))
                n_pos.append(pos[order])
                adcs.append(a[order])
            q_arr = pa.array(qids, type=id_arr.type)
            yield pa.RecordBatch.from_arrays(
                [
                    q_arr.take(pa.array(np.concatenate(q_pos))),
                    id_arr.take(pa.array(np.concatenate(n_pos))),
                    pa.array(np.concatenate(adcs)),
                ],
                names=["query_id", "neighbor_id", "adc"],
            )

    return encoded.select(id_col, "codes").mapInArrow(
        run,
        schema=f"query_id {id_type}, neighbor_id {id_type}, adc bigint",
    )
