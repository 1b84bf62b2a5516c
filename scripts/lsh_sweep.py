"""LSH parameter sweep: recall@k and candidate volume vs (planes, tables).

Evidence for the tuning guidance in docs/SCALE_DESIGN.md — more planes
shrink buckets (fewer candidates, lower recall); more tables OR-amplify
recall back at linear candidate cost. Run:

    python scripts/lsh_sweep.py [sf_dir] [k]
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
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("local[16]", app_name="lsh-sweep")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    n = emb.count()
    q = emb.where("vec_id % 50 = 0")
    nq = q.count()
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=k).collect()
    }
    print(f"# vectors={n} queries={nq} truth pairs={len(truth)} (k={k})")
    rows = []
    for planes in (3, 4, 5, 6):
        for tables in (2, 4, 8):
            got = {
                (r.query_id, r.neighbor_id)
                for r in similarity.lsh_topk(
                    emb, q, k=k, n_planes=planes, n_tables=tables
                ).collect()
            }
            # candidate volume: distinct scored pairs before ranking
            e = similarity.lsh_buckets_kernel(emb, tables, planes, 64)
            qq = similarity.lsh_buckets_kernel(
                q, tables, planes, 64, out_id="query_id"
            )
            cands = (
                e.join(qq.select("query_id", "tbl", "bucket"), ["tbl", "bucket"])
                .where(F.col("query_id") != F.col("vec_id"))
                .select("query_id", "vec_id")
                .distinct()
                .count()
            )
            recall = len(got & truth) / len(truth)
            frac = cands / (n * nq)
            rows.append(
                {"planes": planes, "tables": tables,
                 "recall": round(recall, 3),
                 "cand_frac": round(frac, 4)}
            )
            print(json.dumps(rows[-1]))
    spark.stop()


if __name__ == "__main__":
    main()
