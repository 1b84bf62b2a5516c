"""Deduplication suite for training-data pipelines.

Not present in the reference (its corpus is per-file audio), but a
first-class requirement of the engine's target workload. All hash
arithmetic is integer-affine and cross-engine exact (Spark == DuckDB ==
Python), so every stage is oracle-checkable.

Operators:

* exact duplicates          — md5(text) group (hash-groupBy)
* MinHash signatures + LSH  — shingle -> minhash -> band -> bucket join
* SimHash                   — 32-bit sign-aggregated fingerprint
* n-gram Jaccard            — exact similarity on LSH candidate pairs
* embedding cosine near-dup — see operators/similarity.py

Scale shape: MinHash signature computation is a narrow map (array
lambdas, JVM-side); candidate generation is a self-join on band keys —
the classic LSH trick that turns O(n^2) pair comparison into
O(sum of bucket^2), shuffle-partitioned by band key. Hot buckets (boiler-
plate docs) are the skew case: cap bucket width or salt (operators/skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.core.config import MinHashSpec
from audio_feature_extraction_spark.core.materialize import materialize

DEFAULT_MINHASH = MinHashSpec()


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(text_hash, n_docs, min_doc_id): groups with n_docs > 1 are exact
    duplicate sets; keep min_doc_id as the canonical survivor."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row (min doc_id) per distinct text. Two-shuffle classic;
    at scale use the hash as a bucketed write key so reruns co-locate."""
    w = F.row_number().over(
        Window.partitionBy(F.md5(F.col(text_col))).orderBy("doc_id")
    )
    return docs.withColumn("_rn", w).where(F.col("_rn") == 1).drop("_rn")


def exact_dup_oracle_sql(from_clause: str = "documents") -> str:
    return (
        f"SELECT md5(text) AS text_hash, count(*) AS n_docs, "
        f"min(doc_id) AS keep_doc_id FROM {from_clause} "
        f"GROUP BY md5(text) HAVING count(*) > 1"
    )


def prefix_dup_groups(
    docs: DataFrame, prefix_len: int = 40, text_col: str = "text"
) -> DataFrame:
    """Near-exact dedup by content prefix (catches boilerplate/templated
    docs that diverge late — a standard web-corpus pass)."""
    h = F.md5(F.substring(F.col(text_col), 1, prefix_len))
    return (
        docs.select(h.alias("prefix_hash"), "doc_id")
        .groupBy("prefix_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def prefix_dup_oracle_sql(prefix_len: int = 40, from_clause: str = "documents") -> str:
    return (
        f"SELECT md5(substr(text, 1, {prefix_len})) AS prefix_hash, "
        f"count(*) AS n_docs, min(doc_id) AS keep_doc_id FROM {from_clause} "
        f"GROUP BY 1 HAVING count(*) > 1"
    )


# ---------------------------------------------------------------------------
# shingles (token bigrams) — shared by MinHash / Jaccard
# ---------------------------------------------------------------------------

def shingle_expr(spark: bool, col: str = "tokens", n: int = 2) -> str:
    """Distinct n-gram shingle codes.

    n=2 (default, used by MinHash/Jaccard): exact code
    ``t_i * 32768 + t_{i+1}`` (< 2^30, collision-free).
    n>2 (contamination uses n=8): rolling polynomial hash
    ``h = (h * 32768 + t) % (2^31 - 1)`` folded over the window —
    every intermediate < 2^46, so Spark/DuckDB int64 arithmetic agrees;
    collisions are astronomically rare at corpus scale and harmless for
    overlap ESTIMATION (not exact-match claims).
    """
    if n == 2:
        if spark:
            return (
                f"array_distinct(filter(transform(sequence(1, size({col})), "
                f"i -> case when i < size({col}) then "
                f"element_at({col}, cast(i as int)) * 32768 + element_at({col}, cast(i+1 as int)) "
                f"else -1 end), s -> s >= 0))"
            )
        return (
            f"list_distinct(list_transform(range(1, len({col})), "
            f"i -> {col}[i] * 32768 + {col}[i+1]))"
        )
    p = 2147483647
    if spark:
        roll = (
            f"aggregate(sequence(0, {n - 1}), 0L, "
            f"(h, k) -> (h * 32768 + element_at({col}, cast(i + k as int))) % {p})"
        )
        return (
            f"case when size({col}) < {n} then cast(array() as array<bigint>) "
            f"else array_distinct(transform(sequence(1, size({col}) - {n - 1}), "
            f"i -> {roll})) end"
        )
    # 2-arg list_reduce seeds with the first element — identical to the
    # Spark fold from 0 because 0*32768 + t0 = t0
    roll = (
        f"list_reduce(list_transform(range(0, {n}), k -> CAST({col}[i + k] AS BIGINT)), "
        f"(h, t) -> (h * 32768 + t) % {p})"
    )
    return (
        f"CASE WHEN len({col}) < {n} THEN CAST([] AS BIGINT[]) "
        f"ELSE list_distinct(list_transform(range(1, len({col}) - {n - 2}), "
        f"i -> {roll})) END"
    )


# ---------------------------------------------------------------------------
# train/test contamination (cross-split n-gram overlap)
# ---------------------------------------------------------------------------

def contamination(
    test_docs: DataFrame,
    train_docs: DataFrame,
    n: int = 8,
    prefilter: str | None = "semi",
    bloom_bits: int = 1 << 23,
) -> DataFrame:
    """Per test-document shingle overlap with the train corpus — the
    decontamination pass every LLM data pipeline runs before eval.

    Scale shape: the train side reduces to its DISTINCT shingle set (a
    partial-aggregated shuffle on the shingle code); the test side
    explodes to (doc_id, shingle) and equi-joins on the shingle key. No
    doc-by-doc comparison, no broadcast of the (huge) train set — both
    sides shuffle-partition by shingle, the classic contamination join.
    Docs with fewer than 2 tokens have no shingles and drop out.

    At 100 TB the train side dominates and most of its shingles match
    nothing — only shingles the EVAL side also has can affect the
    result (the join is a left join from the test side), so the train
    stream is pre-filtered BEFORE its distinct's shuffle (VERDICT r04
    #8) with ``prefilter``:

    * ``"semi"`` (default) — broadcast the distinct eval shingle set
      and left-semi join the exploded train shingles against it: exact,
      Catalyst-visible (BroadcastHashJoin LeftSemi under the aggregate
      exchange, plan-gated), right whenever the eval set fits the
      broadcast budget (eval sets are small by construction).
    * ``"bloom"`` — an ``xxhash64``-double-hashed bitmap of the eval
      shingles (``bloom_bits`` wide, k=3 probes), built driver-side
      from the collected DISTINCT eval shingles and probed in a
      numpy-vectorized Arrow kernel over the train stream: ~10x
      smaller than the broadcast hash relation when the eval shingle
      set strains the broadcast budget. False positives only ADD
      never-matching train shingles back into the shuffle — the exact
      equi-join keeps the result identical (tested equal).
    * ``None`` — no prefilter (the r04 shape).

    Output: (doc_id, n_shingles, n_matched, overlap in [0, 1]).
    ``n`` is the shingle width — 8-gram by default (bigrams saturate on
    templated text; decontamination pipelines use 8-13-gram overlap).
    """
    sh = shingle_expr(spark=True, n=n)
    train_sh = train_docs.select(F.explode(F.expr(sh)).alias("shingle"))
    test_sh = test_docs.select("doc_id", F.explode(F.expr(sh)).alias("shingle"))
    eval_set = test_sh.select("shingle").distinct()
    if prefilter == "semi":
        train_sh = train_sh.join(F.broadcast(eval_set), "shingle", "semi")
    elif prefilter == "bloom":
        train_sh = _bloom_prefilter(train_sh, eval_set, bloom_bits)
    elif prefilter is not None:
        raise ValueError(f"prefilter must be 'semi', 'bloom' or None: {prefilter!r}")
    hits = train_sh.distinct().withColumn("_hit", F.col("shingle"))
    return (
        test_sh.join(hits, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_matched"),
        )
        .withColumn("overlap", F.col("n_matched") / F.col("n_shingles"))
    )


def _bloom_prefilter(
    train_sh: DataFrame, eval_set: DataFrame, bloom_bits: int
) -> DataFrame:
    """Keep only train shingles whose 3 double-hashed probe bits are all
    set in a bitmap built from the eval shingle set. Kirsch-Mitzenmacher
    double hashing: probe_i = (h1 + i*h2) mod bits with h1/h2 derived
    from two independent xxhash64 seeds — identical arithmetic on both
    the build (driver, numpy) and probe (Arrow kernel) sides."""
    import numpy as np

    bits = int(bloom_bits)
    words = (bits + 63) // 64
    seeds = eval_set.select(
        F.xxhash64("shingle").alias("h1"),
        F.xxhash64("shingle", F.lit(1)).alias("h2"),
    ).collect()
    bitmap = np.zeros(words, dtype=np.uint64)
    if seeds:
        h1 = np.array([r.h1 for r in seeds], dtype=np.int64).astype(np.uint64)
        h2 = np.array([r.h2 for r in seeds], dtype=np.int64).astype(np.uint64)
        for i in range(3):
            p = (h1 + np.uint64(i) * h2) % np.uint64(bits)
            np.bitwise_or.at(
                bitmap, (p >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (p & np.uint64(63)),
            )
    bc = train_sh.sparkSession.sparkContext.broadcast(bitmap)

    def probe(batches):
        bm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            s1 = pdf["_h1"].to_numpy().astype(np.uint64)
            s2 = pdf["_h2"].to_numpy().astype(np.uint64)
            keep = np.ones(len(pdf), dtype=bool)
            for i in range(3):
                p = (s1 + np.uint64(i) * s2) % np.uint64(bits)
                word = bm[(p >> np.uint64(6)).astype(np.int64)]
                keep &= (word >> (p & np.uint64(63))) & np.uint64(1) == 1
            if keep.any():
                yield pdf.loc[keep, ["shingle"]]

    hashed = train_sh.select(
        "shingle",
        F.xxhash64("shingle").alias("_h1"),
        F.xxhash64("shingle", F.lit(1)).alias("_h2"),
    )
    return hashed.mapInPandas(probe, schema="shingle bigint")


def contamination_oracle_sql(
    train_pred: str,
    test_pred: str,
    from_clause: str = "tokseq",
    n: int = 8,
    final_cte: str | None = None,
) -> str:
    """CTE fragment — concatenate after an existing ``WITH tokseq AS``
    clause (``f"{{tok_cte}}, {{this}}"``), like the other dedup oracles.
    ``final_cte``: wrap the result SELECT as a named CTE instead (for
    variant-union packaging)."""
    sh = shingle_expr(spark=False, n=n)
    sel = (
        f"SELECT tes.doc_id AS doc_id, count(*) AS n_shingles, "
        f"count(trs.shingle) AS n_matched, "
        f"count(trs.shingle) / count(*) AS overlap "
        f"FROM tes LEFT JOIN trs ON tes.shingle = trs.shingle "
        f"GROUP BY tes.doc_id"
    )
    base = (
        f"trs AS (SELECT DISTINCT unnest({sh}) AS shingle "
        f"FROM {from_clause} WHERE {train_pred}), "
        f"tes AS (SELECT doc_id, unnest({sh}) AS shingle "
        f"FROM {from_clause} WHERE {test_pred})"
    )
    if final_cte is None:
        return f"{base} {sel}"
    return f"{base}, {final_cte} AS ({sel})"


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_expr(spec: MinHashSpec, spark: bool, shingles: str) -> str:
    """num_perm-wide signature: sig_j = min over shingles of
    (a_j*s + b_j) % prime, a_j = a0 + j*astep, b_j = b0 + j*bstep.
    Affine ints < 2^62 — exact everywhere. Empty shingle sets
    (single-token docs) get sentinel prime.

    Spark dialect binds the shingle array ONCE via a single-element
    transform (a lambda "let") — without it the shingle expression is
    inlined num_perm times and dominates the plan (measured ~10x)."""
    if spark:
        inner = (
            f"transform(sequence(0, {spec.num_perm - 1}), j -> "
            f"coalesce(array_min(transform(sh, "
            f"s -> (({spec.a0}L + j * {spec.astep}) * s "
            f"+ {spec.b0}L + j * {spec.bstep}) % {spec.prime})), {spec.prime}L))"
        )
        return f"element_at(transform(array({shingles}), sh -> {inner}), 1)"
    parts = []
    for j in range(spec.num_perm):
        a = spec.a0 + j * spec.astep
        b = spec.b0 + j * spec.bstep
        parts.append(
            f"coalesce(list_min(list_transform({shingles}, "
            f"s -> ({a}::BIGINT * s + {b}) % {spec.prime})), {spec.prime}::BIGINT)"
        )
    return f"list_value({', '.join(parts)})"


def minhash_signatures(
    tokseq: DataFrame, spec: MinHashSpec = DEFAULT_MINHASH
) -> DataFrame:
    """(doc_id, signature array<long>) — narrow map, no shuffle."""
    sh = shingle_expr(spark=True)
    return tokseq.selectExpr(
        "doc_id", f"{minhash_expr(spec, True, f'({sh})')} as signature"
    )


def minhash_signatures_kernel(
    tokseq: DataFrame, spec: MinHashSpec = DEFAULT_MINHASH
) -> DataFrame:
    """Arrow-kernel twin of ``minhash_signatures`` — bit-identical output
    (same affine integer arithmetic; duplicates don't change a min, so no
    distinct pass is needed), ~10x faster than the interpreted SQL
    higher-order functions that re-evaluate 16 lambdas per shingle.

    Whole-batch vectorization: all docs' bigram codes concatenate into one
    array; each permutation is one fused multiply-mod pass + a segmented
    ``np.minimum.reduceat``. Narrow map — no shuffle. Products stay below
    2^61 (a_j < 2^31, code < 2^30), so int64 never wraps — the same bound
    the SQL dialect relies on.
    """
    import numpy as np
    import pyarrow as pa

    from audio_feature_extraction_spark.core.arrow_lists import list_array, read_list

    num_perm, prime = spec.num_perm, spec.prime
    a0, astep, b0, bstep = spec.a0, spec.astep, spec.b0, spec.bstep

    def run(batches):
        A = np.array([a0 + j * astep for j in range(num_perm)], dtype=np.int64)
        B = np.array([b0 + j * bstep for j in range(num_perm)], dtype=np.int64)
        for batch in batches:
            # a NULL token array acts as empty (sentinel signature)
            tok = read_list(batch, "tokens", np.int64)
            # a shingle touching a NULL element is NULL, and the SQL twins
            # skip it
            keep = tok.pairs() & tok.valid[:-1] & tok.valid[1:]
            codes = (tok.values[:-1] * 32768 + tok.values[1:])[keep]
            # ck[p]: kept shingles before flat position p (p <= len(values));
            # doc d's shingles start at position offsets[d]
            ck = np.concatenate([[0], np.cumsum(np.append(keep, False))])
            starts = ck[tok.offsets[:-1]]
            lens = ck[np.maximum(tok.offsets[1:] - 1, tok.offsets[:-1])] - starts
            # empty shingle sets (docs shorter than 2 tokens, or all
            # shingles NULL) keep the sentinel `prime`, matching the SQL
            # coalesce
            sig = np.full((batch.num_rows, num_perm), prime, dtype=np.int64)
            nonempty = np.nonzero(lens > 0)[0]
            if len(nonempty):
                for j in range(num_perm):
                    v = (A[j] * codes + B[j]) % prime
                    sig[nonempty, j] = np.minimum.reduceat(v, starts[nonempty])
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), list_array(sig)],
                names=["doc_id", "signature"],
            )

    return tokseq.select("doc_id", "tokens").mapInArrow(
        run, schema="doc_id string, signature array<bigint>"
    )


def minhash_signatures_oracle_sql(
    spec: MinHashSpec = DEFAULT_MINHASH, from_clause: str = "tokseq"
) -> str:
    sh = shingle_expr(spark=False)
    return (
        f"SELECT doc_id, {minhash_expr(spec, False, f'({sh})')} AS signature "
        f"FROM {from_clause}"
    )


def lsh_band_keys(
    signatures: DataFrame, spec: MinHashSpec = DEFAULT_MINHASH
) -> DataFrame:
    """(doc_id, band, band_key): band_key = joined signature rows of that
    band. Docs sharing any band_key are candidates."""
    r = spec.rows_per_band
    rows = []
    for b in range(spec.bands):
        sl = f"slice(signature, {b * r + 1}, {r})"
        rows.append(f"struct({b} as band, array_join({sl}, '-') as band_key)")
    return signatures.selectExpr(
        "doc_id", f"inline(array({', '.join(rows)}))"
    )


def lsh_candidate_pairs(
    tokseq: DataFrame,
    spec: MinHashSpec = DEFAULT_MINHASH,
    max_bucket_size: int | None = None,
    use_kernel: bool = True,
) -> DataFrame:
    """Distinct candidate (doc_a < doc_b) pairs via band-bucket self-join.

    Shuffle on band_key; bucket sizes bound join fan-out. AQE skew-split
    handles moderately hot buckets at runtime; ``max_bucket_size`` is the
    hard guard for degenerate corpora (near-identical boilerplate puts n
    docs in one bucket → n² pairs). Overflowing buckets are EXCLUDED and
    counted via ``lsh_overflow_buckets`` — no silent truncation: at 100 TB
    run that report alongside and route overflow buckets to exact-hash
    dedup (identical docs collapse there anyway).
    """
    sigs = (
        minhash_signatures_kernel(tokseq, spec)
        if use_kernel
        else minhash_signatures(tokseq, spec)
    )
    # materialize the band table once (r06): both sides of the self-join
    # reference it, and as a lazy plan each side re-ran the full MinHash
    # kernel over the corpus — the band table is ~bands rows/doc of
    # (int, string, id), tiny next to the signature computation it caches
    bands = materialize(
        lsh_band_keys(sigs, spec).select("band", "band_key", "doc_id")
    )
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "band_key").agg(
            F.count("*").alias("_bucket_n")
        )
        bands = (
            bands.join(sizes, ["band", "band_key"])
            .where(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def lsh_overflow_buckets(
    tokseq: DataFrame,
    spec: MinHashSpec = DEFAULT_MINHASH,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """The accounting side of the bucket cap: (band, band_key, n_docs)
    for every bucket the capped candidate pass skipped."""
    sigs = minhash_signatures(tokseq, spec)
    bands = lsh_band_keys(sigs, spec)
    return (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
    )


def lsh_bands_union_sql(spec: MinHashSpec, sig_from: str = "sigs") -> str:
    """DuckDB: band table as a UNION ALL over fixed band slices."""
    r = spec.rows_per_band
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"array_to_string(signature[{b * r + 1}:{b * r + r}], '-') AS band_key "
        f"FROM {sig_from}"
        for b in range(spec.bands)
    )


def lsh_candidate_pairs_oracle_sql(
    spec: MinHashSpec = DEFAULT_MINHASH, tok_from: str = "tokseq"
) -> str:
    """CTE continuation — prepend ``WITH tokseq AS (...), `` when composing."""
    return (
        f"sigs AS ({minhash_signatures_oracle_sql(spec, tok_from)}), "
        f"bands AS ({lsh_bands_union_sql(spec)}) "
        f"SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        f"FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key "
        f"AND a.doc_id < b.doc_id"
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verify on candidates)
# ---------------------------------------------------------------------------

def jaccard_on_pairs(
    pairs: DataFrame, tokseq: DataFrame, threshold: float = 0.0
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs. Two joins against
    the shingle table (shuffle on doc_id); intersection via
    array_intersect — JVM-side, no UDF."""
    sh = tokseq.selectExpr("doc_id", f"{shingle_expr(spark=True)} as shingles")
    out = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "uni", F.size("sh_a") + F.size("sh_b") - F.col("inter")
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / F.col("uni")).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold) if threshold > 0 else out


def jaccard_oracle_sql(
    spec: MinHashSpec = DEFAULT_MINHASH,
    tok_from: str = "tokseq",
    final_cte: str | None = None,
) -> str:
    sh = shingle_expr(spark=False)
    ctes = (
        f"sh AS (SELECT doc_id, ({sh}) AS shingles FROM {tok_from}), "
        f"sigs AS ({minhash_signatures_oracle_sql(spec, tok_from)}), "
        f"bands AS ({lsh_bands_union_sql(spec)}), "
        f"pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        f"FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key "
        f"AND a.doc_id < b.doc_id)"
    )
    select = (
        f"SELECT p.doc_a AS doc_a, p.doc_b AS doc_b, "
        f"CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / "
        f"(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard "
        f"FROM pairs p JOIN sh sa ON p.doc_a = sa.doc_id "
        f"JOIN sh sb ON p.doc_b = sb.doc_id"
    )
    if final_cte is not None:
        return f"{ctes}, {final_cte} AS ({select})"
    return f"{ctes} {select}"


def components_oracle_sql(threshold: float, jac_cte: str = "jac") -> str:
    """DuckDB twin of :func:`connected_components` over confirmed
    near-dup pairs: recursive transitive closure + min-label. Emits a
    CTE list defining ``dup``/``edges``/``reach``/``comp`` — the
    caller's ``WITH`` must be ``WITH RECURSIVE`` and must already define
    ``{jac_cte}(doc_a, doc_b, jaccard)``."""
    return (
        f"dup AS (SELECT doc_a, doc_b FROM {jac_cte} "
        f"WHERE jaccard >= {threshold} AND doc_a <> doc_b), "
        f"edges AS (SELECT doc_a AS src, doc_b AS dst FROM dup "
        f"UNION SELECT doc_b, doc_a FROM dup), "
        f"reach(id, lab) AS (SELECT src, src FROM edges UNION "
        f"SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst), "
        f"comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id)"
    )


# ---------------------------------------------------------------------------
# SimHash (32-bit, integer-exact)
# ---------------------------------------------------------------------------

def simhash_expr(spark: bool, col: str = "tokens", bits: int = 32) -> str:
    """Sign-aggregated fingerprint: bit b is 1 iff
    sum over tokens of sign(bit b of h(t)) > 0, h(t) = (t*2654435761) % 2^32.
    Pure integer arithmetic, identical across engines."""
    h = f"(t * 2654435761) % 4294967296"
    if spark:
        per_bit = (
            f"transform(sequence(0, {bits - 1}), b -> "
            f"case when aggregate({col}, 0L, (acc, t) -> acc + "
            f"(case when (({h}) div shiftleft(1L, b)) % 2 = 1 then 1 else -1 end)) > 0 "
            f"then shiftleft(1L, b) else 0L end)"
        )
        return f"aggregate({per_bit}, 0L, (a, x) -> a + x)"
    per_bit = (
        f"list_transform(range(0, {bits}), b -> "
        f"CASE WHEN list_sum(list_transform({col}, t -> "
        f"CASE WHEN (({h}) // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN (1::BIGINT << b) ELSE 0::BIGINT END)"
    )
    return f"list_sum({per_bit})"


def simhash(tokseq: DataFrame) -> DataFrame:
    return tokseq.selectExpr("doc_id", f"{simhash_expr(spark=True)} as simhash")


def simhash_oracle_sql(from_clause: str = "tokseq") -> str:
    return (
        f"SELECT doc_id, CAST({simhash_expr(spark=False)} AS BIGINT) AS simhash "
        f"FROM {from_clause}"
    )


# ---------------------------------------------------------------------------
# exact connected components over confirmed duplicate pairs
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(a, b) edges -> (doc_id, component) where component = the MIN
    doc_id reachable through the duplicate graph.

    The greedy pair-drop policy (drop doc_b of every confirmed pair)
    under-merges chains like a~b, b~c when (a, c) was never a candidate;
    component labeling fixes that exactly. Implementation is iterative
    hash-to-min label propagation: each round every node takes the min
    label in its closed neighborhood, converging in O(graph diameter)
    rounds (duplicate clusters are near-cliques, so 2-4 rounds in
    practice; ``max_iter`` is a safety bound and raises if exceeded
    rather than returning wrong labels). Each round is two
    hash-partitioned joins + a groupBy min — no driver-side graph, and
    materializing the edges and every round's labels
    (``core.materialize``) truncates the lineage so round N's plan does
    not replay rounds 1..N-1. The classic large-star/small-star variant
    is the drop-in refinement if diameters ever grow adversarial.

    Executor loss (VERDICT r03 #1): by default the rounds are local
    checkpoints, so losing an executor after a round fails the job with
    no lineage to recompute; an hours-long 100 TB dedup should run on a
    session with a checkpoint dir (shared FS), where every round
    restarts from reliable files and a loss costs one task retry.
    """
    F_ = F
    e = pairs.select(
        F_.col(a_col).alias("src"), F_.col(b_col).alias("dst")
    ).where(F_.col("src") != F_.col("dst"))
    edges = materialize(
        e.unionByName(
            e.select(F_.col("dst").alias("src"), F_.col("src").alias("dst"))
        ).distinct()
    )
    labels = materialize(
        edges.select(F_.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F_.col("id"))
    )
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F_.min("comp").alias("nmin"))
            .withColumnRenamed("src", "id")
        )
        new_labels = materialize(
            labels.join(neigh_min, "id", "left")
            .select(
                "id",
                F_.least(F_.col("comp"), F_.coalesce("nmin", "comp")).alias("comp"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F_.col("n.comp") != F_.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F_.col("id").alias("doc_id"), "comp")
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def duplicate_gram_spans(
    tokseq: DataFrame,
    k: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplicate spans (the ExactSubstr analog of Lee
    et al., "Deduplicating Training Data Makes Language Models Better"):
    every maximal run of positions whose k-token gram occurs >=
    ``min_count`` times ANYWHERE in the corpus (cross-doc or within-doc
    self-repetition). Returns (doc_id, span_id, span_start, span_end,
    n_grams) with 0-based token positions, end exclusive; overlapping
    and adjacent duplicated grams merge into one span (parallel-prefix:
    running-max-end flag + cumulative sum, one window per doc).

    One lazy pass: a single gram posexplode feeds a window count over
    the gram partition (one exchange, one sort), whose hits feed the
    per-doc span window. Calling it starts no Spark job. A suffix-array
    pass is the single-node exact-maximal-match refinement; the k-gram
    grid is the bounded-memory distributed analog.
    """
    grams = tokseq.where(F.col("n_tok") >= F.lit(k)).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, n_tok - {k}), "
                f"i -> slice(tokens, cast(i + 1 as int), {k}))"
            )
        ).alias("pos", "gram"),
    )
    # the window count over a gram's partition IS its corpus count. The
    # partition key leads with the 8-byte hash (gram determines gh, so
    # (gh, gram) groups == gram groups) to keep the sort comparator off
    # the k-int arrays. NULL grams (NULL tokens) are dropped, as the
    # DuckDB twin's join on gram drops them
    w_cnt = Window.partitionBy("gh", "gram")
    hits = (
        grams.where(F.col("gram").isNotNull())
        .withColumn("gh", F.xxhash64("gram"))
        .withColumn("_c", F.count("*").over(w_cnt))
        .where(F.col("_c") >= min_count)
        .select("doc_id", "pos")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("pos") + F.lit(k)).over(w_prev)
    return (
        hits.withColumn(
            "_f",
            F.when(
                prev_end.isNull() | (F.col("pos") > prev_end), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("span_id", F.sum("_f").over(w_run))
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
            F.count("*").alias("n_grams"),
        )
    )


def strip_duplicate_spans(
    tokseq: DataFrame,
    spans: DataFrame | None = None,
    k: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """Rewrite each doc with every duplicated span removed (the
    aggressive cut-all-copies policy: deterministic and join-free at
    rewrite time; the keep-one-occurrence refinement needs a global
    keeper election per gram and is noted, not implemented). Adds
    ``tokens_clean`` / ``n_kept`` / ``n_removed``; token filtering is a
    JVM-side higher-order ``filter`` with index — no Python in the
    rewrite."""
    if spans is None:
        spans = duplicate_gram_spans(tokseq, k=k, min_count=min_count)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    return (
        tokseq.join(per_doc, "doc_id", "left")
        .withColumn(
            "tokens_clean",
            F.expr(
                "CASE WHEN _spans IS NULL THEN tokens ELSE "
                "filter(tokens, (t, i) -> NOT exists(_spans, "
                "s -> i >= s.span_start AND i < s.span_end)) END"
            ),
        )
        .withColumn("n_kept", F.size("tokens_clean").cast("long"))
        .withColumn(
            "n_removed",
            (F.col("n_tok") - F.size("tokens_clean")).cast("long"),
        )
        .drop("_spans")
    )


def duplicate_spans_oracle_sql(
    k: int = 16, min_count: int = 2, tok_from: str = "tokseq"
) -> str:
    """DuckDB twin of :func:`duplicate_gram_spans`: CTE list defining
    ``grams``/``dupg``/``hits``/``dup_spans`` over ``{tok_from}``."""
    return (
        f"grams AS (SELECT doc_id, pos, tokens[pos + 1 : pos + {k}] AS gram "
        f"FROM (SELECT doc_id, tokens, "
        f"CAST(unnest(range(n_tok - {k} + 1)) AS INT) AS pos "
        f"FROM {tok_from} WHERE n_tok >= {k}) _g), "
        f"dupg AS (SELECT gram FROM grams GROUP BY gram "
        f"HAVING count(*) >= {min_count}), "
        f"hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dupg USING (gram)), "
        f"flagged AS (SELECT doc_id, pos, CASE WHEN max(pos + {k}) OVER w1 "
        f"IS NULL OR pos > max(pos + {k}) OVER w1 THEN 1 ELSE 0 END AS f "
        f"FROM hits WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
        f"span_rows AS (SELECT doc_id, CAST(sum(f) OVER "
        f"(PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS span_id, pos "
        f"FROM flagged), "
        f"spans_agg AS (SELECT doc_id, span_id, MIN(pos) AS span_start, "
        f"MAX(pos) + {k} AS span_end, count(*) AS n_grams "
        f"FROM span_rows GROUP BY doc_id, span_id)"
    )


def strip_spans_oracle_sql(tok_from: str = "tokseq") -> str:
    """CTE list defining ``stripped`` (doc_id, tokens_clean, n_kept,
    n_removed); requires ``spans_agg`` from
    :func:`duplicate_spans_oracle_sql` in scope."""
    return (
        f"positions AS (SELECT doc_id, "
        f"CAST(unnest(range(len(tokens))) AS INT) AS pos, "
        f"unnest(tokens) AS tok FROM {tok_from}), "
        f"covered AS (SELECT DISTINCT p.doc_id, p.pos FROM positions p "
        f"JOIN spans_agg s ON p.doc_id = s.doc_id "
        f"AND p.pos >= s.span_start AND p.pos < s.span_end), "
        f"kept AS (SELECT p.doc_id, "
        f"list(p.tok ORDER BY p.pos) FILTER (WHERE c.pos IS NULL) AS toks, "
        f"count(*) FILTER (WHERE c.pos IS NULL) AS n_kept, "
        f"count(c.pos) AS n_removed FROM positions p LEFT JOIN covered c "
        f"ON p.doc_id = c.doc_id AND p.pos = c.pos GROUP BY p.doc_id), "
        f"stripped AS (SELECT t.doc_id, "
        f"coalesce(kp.toks, CAST([] AS INTEGER[])) AS tokens_clean, "
        f"coalesce(kp.n_kept, 0) AS n_kept, "
        f"coalesce(kp.n_removed, 0) AS n_removed "
        f"FROM {tok_from} t LEFT JOIN kept kp USING (doc_id))"
    )


def dedup_survivors_by_component(
    docs_ids: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Exact near-dup survivors: every doc keeps iff it is its
    component's min id (docs in no pair are their own component).
    Pass ``components`` (a prior :func:`connected_components` result)
    to reuse labels instead of re-running propagation."""
    if components is None:
        if pairs is None:
            raise ValueError("need pairs or components")
        comp = connected_components(pairs)
    else:
        comp = components
    return (
        docs_ids.join(comp, id_col, "left")
        .where(F.col("comp").isNull() | (F.col("comp") == F.col(id_col)))
        .drop("comp")
    )
