"""PQ parameter sweep: recall@k vs (m, codes, shortlist) + compression.

Evidence for the defaults in similarity.pq_topk (m=16, codes=32,
shortlist=64): more subspaces / more codes raise codebook resolution at
linearly larger codes-per-vector; shortlist trades re-rank cost for
recall. Compression ratio = raw vector bytes / code bytes (codes<=256
fit one byte each). The testdata embeddings are structureless random
vectors — PQ's WORST case; clustered real embeddings quantize far
better. Run:

    python scripts/pq_sweep.py [sf_dir] [k]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from audio_feature_extraction_spark.core.session import get_spark  # noqa: E402
from audio_feature_extraction_spark.operators import similarity  # noqa: E402

DIM = 64


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("local[16]", app_name="pq-sweep")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    n = emb.count()
    q = emb.where("vec_id % 20 = 0")
    bf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=k).collect()
    }
    for m in (4, 8, 16):
        for codes in (16, 32):
            for shortlist in (32, 64):
                got = {
                    (r.query_id, r.neighbor_id)
                    for r in similarity.pq_topk(
                        emb, q, k=k, dim=DIM, m=m, codes=codes,
                        shortlist=shortlist,
                    ).collect()
                }
                print(
                    json.dumps(
                        {
                            "m": m,
                            "codes": codes,
                            "shortlist": shortlist,
                            "recall": round(len(got & bf) / len(bf), 3),
                            "code_bytes": m,  # codes<=256 -> 1 byte each
                            "raw_bytes": DIM * 8,
                            "compression": round(DIM * 8 / m, 1),
                            "n": n,
                        }
                    )
                )
    # pivot vs TRAINED codebook at equal (m, codes) — recall-per-byte
    # is PQ's whole value, so publish what seeded Lloyd buys
    for m in (8, 16):
        for codes in (16, 32):
            cb = similarity.train_codebook(emb, dim=DIM, m=m, codes=codes)
            pivot = {
                (r.query_id, r.neighbor_id)
                for r in similarity.pq_topk(
                    emb, q, k=k, dim=DIM, m=m, codes=codes, shortlist=64
                ).collect()
            }
            trained = {
                (r.query_id, r.neighbor_id)
                for r in similarity.pq_topk(
                    emb, q, k=k, dim=DIM, m=m, codes=codes, shortlist=64,
                    codebook=cb,
                ).collect()
            }
            print(
                json.dumps(
                    {
                        "compare": "pivot_vs_trained",
                        "m": m,
                        "codes": codes,
                        "recall_pivot": round(len(pivot & bf) / len(bf), 3),
                        "recall_trained": round(len(trained & bf) / len(bf), 3),
                    }
                )
            )
    spark.stop()


if __name__ == "__main__":
    main()
