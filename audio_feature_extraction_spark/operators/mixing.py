"""Corpus mixing + sequence packing — training-data composition ops.

Beyond the reference (its corpus is per-file audio), but first-class for
the engine's target workload: an LLM pretraining pipeline composes its
corpus from weighted domain mixtures (rate < 1 downsamples a domain,
rate > 1 repeats it for multiple epochs) and then packs documents into
fixed-length training blocks.

Everything is deterministic and integer-exact, so both ops carry full
DuckDB value oracles:

* sampling decisions come from a quadratic product-form hash of the
  numeric doc id (an affine form mod a small denominator degenerates on
  arithmetic id sequences — see noise_inject_expr);
* packing offsets are integer prefix sums over a fixed (source, doc_id)
  order.

Scale shape: ``sample_by_rates`` is a narrow map + filter (no shuffle).
``pack_blocks`` is one window prefix-sum per source partition — the same
single-exchange shape as sessionize/backfill; a pathologically hot
source falls back to the segmented-scan trick (temporal.backfill_bucketed)
if ever needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HASH_PRIME = 1000003
DENOM = 10_000  # rate resolution 1/10000


def _rate_hash(num_expr: str, epoch_expr: str, seed: int) -> str:
    """Product-form hash in [0, DENOM) — identical in Spark and DuckDB.

    Both factors are reduced mod HASH_PRIME *before* the multiply, so
    every intermediate is provably < 2^41: the raw ``(num+1)*(num+...)``
    form is ~num^2 and would exceed int64 once a numeric doc-id suffix
    passes ~2^31 — Spark BIGINT wraps silently there while DuckDB raises,
    i.e. engine/oracle divergence (ADVICE r02). For ids below ~10^6 the
    reduced form is numerically identical to the raw one, so existing
    oracle values are unchanged. Depends on (doc, epoch) so each extra
    epoch's fractional keep-set is independent."""
    n = f"(({num_expr}) % {HASH_PRIME})"
    m = f"(({n} + 1009 + ({epoch_expr}) * 131) % {HASH_PRIME})"
    return f"((({n} + 1) * {m} + {seed}) % {HASH_PRIME}) % {DENOM}"


def sample_rate_case(rates: dict[str, float], default: float) -> str:
    """CASE expression mapping source -> mixing rate (works verbatim in
    both dialects). Empty rate maps collapse to the default literal —
    a branchless CASE is a parse error in both engines."""
    if not rates:
        return f"({default!r})"
    branches = " ".join(
        f"WHEN '{s}' THEN {r!r}" for s, r in sorted(rates.items())
    )
    return f"CASE source {branches} ELSE {default!r} END"


def sample_by_rates(
    tokseq: DataFrame,
    rates: dict[str, float],
    default: float = 1.0,
    seed: int = 7,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Weighted corpus mixing: keep/repeat docs per source rate.

    rate r emits floor(r) full copies of every doc (epochs 0..floor(r)-1)
    plus one extra copy of a deterministic hash(doc, epoch) fraction
    (r - floor(r)) of docs. Output = input columns + ``epoch``.

    Narrow: the epoch fan-out is a generator expression, the fractional
    keep is a filter — no shuffle, no RNG, rerun-stable.
    """
    num = f"CAST(regexp_replace({id_col}, '[^0-9]', '') AS BIGINT)"
    rate = sample_rate_case(rates, default)
    # threshold in DENOM units; epochs 0..ceil(r)-1, last one is partial
    thresh = f"CAST(round(({rate}) * {DENOM}) AS BIGINT)"
    h = _rate_hash(num, "e", seed)
    keep = f"(e + 1) * {DENOM} <= {thresh} OR {h} < {thresh} - e * {DENOM}"
    # rate <= 0 guard: Spark's sequence(0, -1) DESCENDS instead of being
    # empty, which would fabricate an epoch -1 row
    frag = (
        f"CASE WHEN {thresh} <= 0 THEN array() ELSE "
        f"filter(transform(sequence(0, CAST(ceil({rate}) AS INT) - 1), "
        f"e -> CASE WHEN {keep} THEN e END), e -> e IS NOT NULL) END"
    )
    return tokseq.select(
        "*", F.explode(F.expr(frag)).alias("epoch")
    )


def sample_by_rates_oracle_sql(
    rates: dict[str, float],
    default: float = 1.0,
    seed: int = 7,
    from_clause: str = "tokseq",
) -> str:
    num = "CAST(regexp_replace(doc_id, '[^0-9]', '', 'g') AS BIGINT)"
    rate = sample_rate_case(rates, default)
    thresh = f"CAST(round(({rate}) * {DENOM}) AS BIGINT)"
    h = _rate_hash(num, "e", seed)
    return (
        f"SELECT t.*, CAST(e AS INTEGER) AS epoch FROM {from_clause} t, "
        f"unnest(range(0, CAST(ceil({rate}) AS BIGINT))) AS g(e) "
        f"WHERE (e + 1) * {DENOM} <= {thresh} OR {h} < {thresh} - e * {DENOM}"
    )


def sample_quota(
    tokseq: DataFrame,
    n_per_source: int,
    seed: int = 7,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """EXACT-quota stratified sampling: the first ``n_per_source`` docs
    per source in deterministic hash order (rate-based mixing keeps an
    EXPECTED fraction; eval-set carving and per-domain caps need an
    exact count). Hash order — not id order — so the sample is
    uniform-ish over each stratum yet rerun-stable, engine-identical,
    and stable under appends ONLY of later-hashing docs (the usual
    reservoir caveat; re-carve after big appends).

    Scale shape: one rank window per source partition — the same single
    exchange as sessionize; no RNG, no collect. Output = input columns
    + ``sample_rank`` (1-based within source).
    """
    from pyspark.sql import Window

    num = f"CAST(regexp_replace({id_col}, '[^0-9]', '') AS BIGINT)"
    h = _rate_hash(num, "0", seed)
    w = Window.partitionBy(source_col).orderBy(F.expr(h), F.col(id_col))
    return (
        tokseq.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n_per_source)
    )


def sample_quota_oracle_sql(
    n_per_source: int, seed: int = 7, from_clause: str = "tokseq"
) -> str:
    num = "CAST(regexp_replace(doc_id, '[^0-9]', '', 'g') AS BIGINT)"
    h = _rate_hash(num, "0", seed)
    # NULLS FIRST pins the one dialect default that differs (Spark asc
    # = nulls first, DuckDB asc = nulls last) for digitless doc ids
    return (
        f"SELECT * FROM (SELECT t.*, CAST(row_number() OVER ("
        f"PARTITION BY source ORDER BY {h} NULLS FIRST, doc_id) "
        f"AS INTEGER) AS sample_rank FROM {from_clause} t) _q "
        f"WHERE sample_rank <= {n_per_source}"
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
# ---------------------------------------------------------------------------
# Rate- and quota-based mixing above select by SOURCE; DSIR selects by
# CONTENT: fit two hashed-n-gram bag distributions — p over a small
# "target" (high-quality) sample, q over the raw corpus — weight every
# document by its log importance ratio log p(x)/q(x), and resample
# top-k under Gumbel noise (the Gumbel-top-k trick makes top-k on
# log w + G equivalent to sampling without replacement proportional to
# w). This engine's twist is that the whole thing is EXACT cross-engine:
#
# * features      = hashed BIGRAMS of the token array (the paper uses
#   unigram+bigram bags; bigrams alone keep the feature space disjoint
#   from the NB unigram filter so the two learned signals are
#   complementary);
# * distributions = add-one-smoothed bucket counts; the per-bucket
#   log-ratio quantizes to integer micro-nats via the NB weight idiom
#   (textstats._nb_weight_sql — ln is libm-matched Spark==DuckDB, floor
#   of the same double is exact), so per-doc weights are ORDER-FREE
#   INTEGER SUMS;
# * Gumbel noise  = -ln(-ln(u)) with u a DYADIC rational from an affine
#   integer hash ((h + 0.5) / 2^20): u is exactly representable, both
#   ln's are libm-matched, so even the "random" tiebreak is
#   deterministic, engine-identical, and oracle-checkable.
#
# "Target" here is the same weak-quality heuristic the NB filter
# bootstraps from (2*|distinct tokens| >= n_tok) restricted to the
# deterministic train split — the DSIR paper's target corpus is any
# small exemplar set; a deterministic predicate keeps the whole pipeline
# value-oracle-checkable.
#
# 100 TB shape: fitting is one groupBy of exploded train-split bigram
# buckets onto DSIR_BUCKETS keys (map-side partial agg; the model is
# DSIR_BUCKETS rows). Weighting broadcasts that table: explode ->
# broadcast-join -> integer sum per doc. Selection is orderBy().limit(k)
# — Spark's TakeOrdered, O(k) per partition, no global sort; the
# row_number that ranks the k survivors runs AFTER the limit, over k
# rows only.

DSIR_BUCKETS = 128
DSIR_M1 = 41
DSIR_M2 = 97
DSIR_OFF = 23
# Gumbel-key hash: u = ((id*G_MULT + G_OFF) mod 2^20 + 0.5) / 2^20
DSIR_G_MULT = 40503
DSIR_G_OFF = 633
DSIR_G_MOD = 1 << 20
# train predicate: operators/split.py affine bucket < 80 (the 'train'
# split — same arithmetic the NB quality filter trains on)
_DSIR_SPLIT = "((({id}) * 9973 + 12345) % 100) < 80"
# NULL token elements are not distinct values (DuckDB's list_distinct
# drops them; Spark's array_distinct would keep one)
_DSIR_TARGET = {
    True: "case when size(array_distinct(filter(tokens, t -> t is not null)))"
    " * 2 >= n_tok then 1 else 0 end",
    False: "CASE WHEN len(list_distinct(tokens)) * 2 >= n_tok "
    "THEN 1 ELSE 0 END",
}


def _dsir_feats(spark: bool) -> str:
    """Hashed-bigram bucket array over ``tokens`` (pmod — token ids may
    be arbitrary ints)."""
    v, m1, m2, off = DSIR_BUCKETS, DSIR_M1, DSIR_M2, DSIR_OFF
    # tokens promote to BIGINT before the multiplies: int32 × small
    # constant wraps silently in Spark but errors in DuckDB near the
    # int32 edge — the cast is value-identical for every in-range id
    # and removes the divergence window (the _rate_hash precedent)
    if spark:
        return (
            f"transform(filter(sequence(1, size(tokens)), i -> i < size(tokens)), "
            f"i -> ((bigint(element_at(tokens, cast(i as int))) * {m1} "
            f"+ bigint(element_at(tokens, cast(i + 1 as int))) * {m2} + {off}) "
            f"% {v} + {v}) % {v})"
        )
    return (
        f"list_transform(range(1, len(tokens)), "
        f"i -> ((CAST(tokens[i] AS BIGINT) * {m1} "
        f"+ CAST(tokens[i + 1] AS BIGINT) * {m2} + {off}) "
        f"% {v} + {v}) % {v})"
    )


def _dsir_gumbel(num_expr: str) -> str:
    """Integer micro-nat Gumbel noise from a dyadic uniform — identical
    text both dialects. u = (affine-hash + 0.5)/2^20 is an exact double;
    ln is glibc-libm on both engines; floor of the same double is exact."""
    mult, off, mod = DSIR_G_MULT, DSIR_G_OFF, DSIR_G_MOD
    # digitless doc ids extract a NULL numeric id — pin them to 0 so
    # they still draw a (shared) Gumbel key instead of a NULL one;
    # doc_id remains the deterministic tiebreak. The id reduces mod
    # 2^20 BEFORE the multiply (the _rate_hash precedent): the product
    # stays < 2^46, so an 18-digit id can't overflow int64 (Spark
    # wraps, DuckDB errors — either way a divergence).
    u = (
        f"(((coalesce({num_expr}, 0) % {mod} + {mod}) % {mod}) "
        f"* {mult} + {off}) % {mod}"
    )
    return (
        f"CAST(floor(1000000.0 * (0.0 - ln(0.0 - "
        f"ln((CAST({u} AS DOUBLE) + 0.5) / {float(mod)})))) AS BIGINT)"
    )


def dsir_lambda_table(tokseq: DataFrame) -> DataFrame:
    """Fit the per-bucket importance log-ratio table on the train split.

    Returns (b int, lam bigint) — all DSIR_BUCKETS rows, micro-nat
    log(p_target / q_raw) with add-one smoothing. Tiny lazy plan;
    persist/write to reuse one fitted model across selection runs."""
    from .textstats import _nb_weight_sql

    v = DSIR_BUCKETS
    num = "CAST(regexp_replace(doc_id, '[^0-9]', '') AS BIGINT)"
    train = tokseq.where(F.expr(_DSIR_SPLIT.format(id=num)))
    ex = train.select(
        F.expr(_DSIR_TARGET[True]).alias("is_t"),
        F.explode(F.expr(_dsir_feats(True))).alias("b"),
    )
    counts = ex.groupBy("b").agg(
        F.sum("is_t").alias("c1"),
        F.sum(F.expr("1 - is_t")).alias("c0"),
    )
    # totals from the DSIR_BUCKETS-row counts relation (one exchange,
    # reused) instead of re-aggregating the train-split explode; coalesce
    # keeps smoothing finite on an empty/all-empty train split.
    tot = counts.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).alias("n1"),
        F.coalesce(F.sum("c0"), F.lit(0)).alias("n0"),
    )
    grid = tot.select(
        F.explode(F.expr(f"sequence(0, {v - 1})")).alias("b"), "n1", "n0"
    )
    return (
        grid.join(counts, "b", "left")
        .withColumn(
            "lam",
            F.expr(
                _nb_weight_sql(
                    "coalesce(c1, 0)", "coalesce(c0, 0)", "n1", "n0", v=v
                )
            ),
        )
        .select("b", "lam")
    )


def _dsir_buckets(tok):
    """DSIR features: one hashed-bigram bucket per adjacent token pair;
    the hash promotes to BIGINT exactly like the SQL."""
    import numpy as np

    v, m1, m2, off = DSIR_BUCKETS, DSIR_M1, DSIR_M2, DSIR_OFF
    t, inside = tok.values, tok.pairs()
    x = (t[:-1] * np.int64(m1) + t[1:] * np.int64(m2))[inside] + np.int64(off)
    ok = (tok.valid[:-1] & tok.valid[1:])[inside]
    per_doc = np.maximum(np.diff(tok.offsets) - 1, 0)
    return np.where(ok, x % np.int64(v), v), per_doc  # pmod


def _dsir_fit_literals_kernel(tokseq: DataFrame) -> list[int]:
    """The DSIR fit: :func:`dsir_lambda_table`'s ``lam`` literals
    (parity-tested)."""
    from .textstats import _fit_literals_kernel

    return _fit_literals_kernel(tokseq, DSIR_BUCKETS, _dsir_buckets)[0]


def dsir_weights(tokseq: DataFrame) -> DataFrame:
    """Per-doc DSIR importance weights + Gumbel resampling keys.

    Output: (doc_id, source, n_tok, n_feats, lw_micro, key_micro) for
    EVERY input doc — docs too short for a bigram score 0 (ln-ratio of
    the empty product) and compete on bare Gumbel noise.

    r06 shape: the fitted 128-row ``lam`` table is collected to driver
    literals (bounded by construction — the :func:`nb_expr_score`
    serving precedent) and the weighting pass compiles into ONE narrow
    fold expression per doc: integer sums are order-free, so the fold
    is bit-identical to the old explode → broadcast-join → groupBy
    plan, but ships zero rows through any exchange and drops the
    short-doc union (an empty feature array folds to 0 by itself). The
    only remaining shuffle in the whole weighting job is the tiny
    fit's bucket aggregation.

    NULL token elements: a bigram feature touching a NULL element is
    NULL, and the score skips it — ``n_feats`` counts only the non-null
    features and ``lw_micro`` sums only theirs, exactly what the old
    explode + inner join (and the DuckDB twin) keep. The fit still counts
    such features in the split totals, in no bucket, as the SQL trainer's
    NULL group does.
    """
    lam_vals = _dsir_fit_literals_kernel(tokseq)
    arr = "array(%s)" % ", ".join(f"{int(w)}L" for w in lam_vals)
    feats = _dsir_feats(True)
    # NULL features drop out of the fold instead of NULL-poisoning it
    fold = (
        f"aggregate({feats}, cast(0 as bigint), "
        f"(acc, b) -> acc + coalesce(element_at({arr}, cast(b as int) + 1), "
        f"cast(0 as bigint)))"
    )
    num = "CAST(regexp_replace(doc_id, '[^0-9]', '') AS BIGINT)"
    g = _dsir_gumbel(num)
    base = tokseq.select(
        "doc_id",
        "source",
        "n_tok",
        F.expr(
            f"cast(size(filter({feats}, b -> b is not null)) as bigint)"
        ).alias("n_feats"),
        F.expr(fold).alias("lw_micro"),
    )
    return base.select(
        "doc_id",
        "source",
        "n_tok",
        "n_feats",
        "lw_micro",
        F.expr(f"CAST(lw_micro + {g} AS BIGINT)").alias("key_micro"),
    )


def dsir_sample(tokseq: DataFrame, k: int) -> DataFrame:
    """Gumbel-top-k importance resampling: the k docs with the largest
    (log-weight + Gumbel) key — distributionally, sampling without
    replacement proportional to the importance weight; operationally, a
    deterministic TakeOrdered.

    Output: dsir_weights columns + ``sample_rank`` (1-based)."""
    top = dsir_weights(tokseq).orderBy(
        F.col("key_micro").desc(), "doc_id"
    ).limit(k)
    w = Window.orderBy(F.col("key_micro").desc(), "doc_id")
    return top.withColumn(
        "sample_rank", F.row_number().over(w).cast("int")
    )


def _dsir_base_ctes(from_clause: str) -> str:
    """Shared DuckDB CTE chain: fit + per-doc weights."""
    from .textstats import _nb_weight_sql

    v = DSIR_BUCKETS
    # TRY_CAST == Spark's non-ANSI CAST: digitless ids go NULL (then
    # drop out of the split / coalesce to 0 in the Gumbel), instead of
    # erroring the whole query as DuckDB's plain CAST would
    num = "TRY_CAST(regexp_replace(doc_id, '[^0-9]', '', 'g') AS BIGINT)"
    w = _nb_weight_sql("coalesce(c1, 0)", "coalesce(c0, 0)", "n1", "n0", v=v)
    g = _dsir_gumbel(
        "TRY_CAST(regexp_replace(t.doc_id, '[^0-9]', '', 'g') AS BIGINT)"
    )
    return (
        f"ds_tr AS (SELECT {_DSIR_TARGET[False]} AS is_t, tokens "
        f"FROM {from_clause} WHERE {_DSIR_SPLIT.format(id=num)}), "
        f"ds_ex AS (SELECT is_t, u.b FROM "
        f"(SELECT is_t, {_dsir_feats(False)} AS bs FROM ds_tr) t, "
        f"unnest(t.bs) AS u(b)), "
        f"ds_cts AS (SELECT b, sum(is_t) AS c1, sum(1 - is_t) AS c0 "
        f"FROM ds_ex GROUP BY b), "
        f"ds_tot AS (SELECT sum(is_t) AS n1, sum(1 - is_t) AS n0 FROM ds_ex), "
        f"ds_lam AS (SELECT g.b, {w} AS lam FROM "
        f"(SELECT unnest(range(0, {v})) AS b) g CROSS JOIN ds_tot "
        f"LEFT JOIN ds_cts ON g.b = ds_cts.b), "
        f"ds_feats AS (SELECT doc_id, u.b FROM "
        f"(SELECT doc_id, {_dsir_feats(False)} AS bs FROM {from_clause}) t, "
        f"unnest(t.bs) AS u(b)), "
        f"ds_sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS _nf, "
        f"CAST(sum(lam) AS BIGINT) AS _lw "
        f"FROM ds_feats JOIN ds_lam USING (b) GROUP BY doc_id), "
        f"ds_w AS (SELECT t.doc_id, t.source, t.n_tok, "
        f"CAST(coalesce(sc._nf, 0) AS BIGINT) AS n_feats, "
        f"CAST(coalesce(sc._lw, 0) AS BIGINT) AS lw_micro, "
        f"CAST(coalesce(sc._lw, 0) + {g} AS BIGINT) AS key_micro "
        f"FROM {from_clause} t LEFT JOIN ds_sc sc ON t.doc_id = sc.doc_id)"
    )


def dsir_weights_oracle_sql(
    from_clause: str = "tokseq", final_cte: str | None = None
) -> str:
    """DuckDB twin of :func:`dsir_weights` as a CTE fragment."""
    sel = "SELECT * FROM ds_w"
    base = _dsir_base_ctes(from_clause)
    if final_cte is None:
        return f"{base} {sel}"
    return f"{base}, {final_cte} AS ({sel})"


def dsir_sample_oracle_sql(
    k: int, from_clause: str = "tokseq", final_cte: str | None = None
) -> str:
    """DuckDB twin of :func:`dsir_sample` as a CTE fragment."""
    sel = (
        f"SELECT *, CAST(row_number() OVER "
        f"(ORDER BY key_micro DESC, doc_id) AS INTEGER) AS sample_rank "
        f"FROM (SELECT * FROM ds_w ORDER BY key_micro DESC, doc_id "
        f"LIMIT {k}) _t"
    )
    base = _dsir_base_ctes(from_clause)
    if final_cte is None:
        return f"{base} {sel}"
    return f"{base}, {final_cte} AS ({sel})"


def pack_blocks(
    tokseq: DataFrame,
    block_len: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequence-packing manifest: documents concatenate in (source,
    doc_id) order into fixed ``block_len`` training blocks; a doc spans
    every block its token range intersects (GPT-style packing where
    documents cross block boundaries).

    Output: one row per (doc, block) slice —
    (source, block_id, doc_id, doc_offset, block_offset, slice_len);
    a writer gathers slices by (source, block_id) to emit padded-free
    training rows. Integer prefix sums only — oracle-exact.
    """
    w = (
        Window.partitionBy(source_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_off = (
        tokseq.where(F.col("n_tok") > 0)
        .withColumn("_end", F.sum(F.col("n_tok").cast("long")).over(w))
        .withColumn("_start", F.col("_end") - F.col("n_tok"))
    )
    b = block_len
    frag = (
        f"inline(transform(sequence(_start div {b}, (_end - 1) div {b}), "
        f"blk -> struct(cast(blk as bigint) as block_id, "
        # slice of THIS doc that lands in block blk
        f"cast(greatest(blk * {b}, _start) - _start as int) as doc_offset, "
        f"cast(greatest(blk * {b}, _start) - blk * {b} as int) as block_offset, "
        f"cast(least((blk + 1) * {b}, _end) - greatest(blk * {b}, _start) as int) "
        f"as slice_len)))"
    )
    return with_off.select(source_col, id_col, F.expr(frag))


def pack_blocks_oracle_sql(
    block_len: int, from_clause: str = "tokseq"
) -> str:
    """CTE continuation — prepend ``WITH tokseq AS (...), `` when composing."""
    b = block_len
    return (
        f"offs AS (SELECT source, doc_id, "
        # DuckDB's sum(BIGINT) is HUGEINT — pin back to BIGINT for range()
        f"CAST(sum(CAST(n_tok AS BIGINT)) OVER (PARTITION BY source ORDER BY doc_id "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS _end, "
        f"CAST(n_tok AS BIGINT) AS n_tok FROM {from_clause} WHERE n_tok > 0) "
        f"SELECT source, doc_id, blk AS block_id, "
        f"CAST(greatest(blk * {b}, _end - n_tok) - (_end - n_tok) AS INTEGER) AS doc_offset, "
        f"CAST(greatest(blk * {b}, _end - n_tok) - blk * {b} AS INTEGER) AS block_offset, "
        f"CAST(least((blk + 1) * {b}, _end) - greatest(blk * {b}, _end - n_tok) AS INTEGER) "
        f"AS slice_len "
        f"FROM offs, unnest(range((_end - n_tok) // {b}, (_end - 1) // {b} + 1)) AS g(blk)"
    )
