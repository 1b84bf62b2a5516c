"""SemDeDup candidate-budget sweep: recall of the true near-dup pair
set vs candidate volume, cluster-restricted (semdedup) against
bucket-restricted (hyperplane LSH), on the same embeddings.

Ground truth = ALL pairs with cosine >= threshold (brute force, only
feasible at test scale). Each policy is judged on (a) what fraction of
true near-dup DOCS it also drops (drop recall — SemDeDup emits one
dominance row per dropped doc, so doc-level is the comparable unit)
and (b) how many candidate pairs it scored to get there — the quantity
that actually costs shuffle bytes at 100 TB. More clusters = smaller
cells = fewer candidates and lower recall; the sweep publishes that
curve so n_clusters ~ sqrt(n) has measured backing, not folklore. Run:

    python scripts/semdedup_sweep.py [sf_dir] [threshold]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from audio_feature_extraction_spark.core.session import get_spark  # noqa: E402
from audio_feature_extraction_spark.operators import similarity  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 0.2
    spark = get_spark("local[16]", app_name="semdedup-sweep")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    n = emb.count()

    # ground truth: every true near-dup pair, and from it the doc set a
    # perfect lowest-id-dominance dedup would drop
    a, b = emb.alias("a"), emb.alias("b")
    true_pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.expr(
                similarity.cosine_expr("a.embedding", "b.embedding", spark=True)
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    true_dropped = {
        r.id_b for r in true_pairs.select("id_b").distinct().collect()
    }
    print(
        json.dumps(
            {
                "n_vectors": n,
                "threshold": threshold,
                "true_pairs": true_pairs.count(),
                "true_dropped_docs": len(true_dropped),
            }
        )
    )

    def cell_candidates(assigned, key_cols):
        sizes = assigned.groupBy(*key_cols).count()
        return sizes.select(
            F.sum(F.expr("count * (count - 1) / 2")).alias("c")
        ).collect()[0].c

    for n_clusters in (4, 8, 16, 32, 64, 128):
        dropped = {
            r.id_b
            for r in similarity.semdedup_pairs(
                emb, threshold=threshold, n_clusters=n_clusters
            ).collect()
        }
        # candidate volume = sum over cells of C(size, 2)
        cents = emb.where(F.col("vec_id") < n_clusters).select(
            F.col("vec_id").cast("int").alias("l"),
            F.col("embedding").cast("array<double>").alias("c"),
        )
        cent_arr = F.broadcast(
            cents.agg(
                F.array_sort(F.collect_list(F.struct("l", "c"))).alias("_cents")
            )
        )
        ranked = (
            "array_sort(transform(_cents, ct -> "
            f"struct({similarity._sqdist_expr('embedding', 'ct.c', True)} AS d, "
            "ct.l AS l)))"
        )
        assigned = emb.crossJoin(cent_arr).withColumn(
            "_cl", F.expr(f"element_at({ranked}, 1).l")
        )
        cand = cell_candidates(assigned, ["_cl"])
        rec = (
            len(dropped & true_dropped) / len(true_dropped)
            if true_dropped
            else 1.0
        )
        print(
            json.dumps(
                {
                    "policy": "semdedup",
                    "n_clusters": n_clusters,
                    "candidate_pairs": int(cand),
                    "candidate_frac": round(cand / (n * (n - 1) / 2), 4),
                    "dropped_docs": len(dropped),
                    "drop_recall": round(rec, 4),
                }
            )
        )

    # LSH comparison point: same threshold, contract-default parameters.
    # Candidate volume = sum over (table, bucket) of C(size, 2) — counts
    # the scored pairs BEFORE the cross-table dedup, i.e. the shuffle
    # bytes actually paid.
    lsh_b = similarity.lsh_buckets_kernel(emb, 4, 4, 64, "vec_id", "embedding")
    lsh_cand = cell_candidates(lsh_b, ["tbl", "bucket"])
    lsh_dropped = {
        r.id_b
        for r in similarity.embedding_near_dups(emb, threshold=threshold)
        .select("id_b")
        .distinct()
        .collect()
    }
    rec = (
        len(lsh_dropped & true_dropped) / len(true_dropped)
        if true_dropped
        else 1.0
    )
    print(
        json.dumps(
            {
                "policy": "lsh (4 tables x 4 planes)",
                "candidate_pairs": int(lsh_cand),
                "candidate_frac": round(lsh_cand / (n * (n - 1) / 2), 4),
                "dropped_docs": len(lsh_dropped),
                "drop_recall": round(rec, 4),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
