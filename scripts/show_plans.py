"""Dump `.explain("formatted")` for the headline queries — the plans we
ship ARE the design; this script makes them reviewable at a glance.

    python scripts/show_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from audio_feature_extraction_spark.core.config import FrameSpec  # noqa: E402
from audio_feature_extraction_spark.core.session import get_spark  # noqa: E402
from audio_feature_extraction_spark.operators import (
    retrieval,  # noqa: E402
    asof, dedup, framing, inverse, mixing, sessionize, similarity,
    sketch, textclean, textstats,
)
from audio_feature_extraction_spark.sources.tokens import (  # noqa: E402
    load_token_sequences,
)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("local[4]")
    spec = FrameSpec(16, 8)
    ts = load_token_sequences(spark, sf)
    ev = spark.read.parquet(f"{sf}/events.parquet")

    plans = {
        "frame_features (flagship, shuffle-free)": framing.frame_features_flat(ts, spec),
        "frame_table (pure Catalyst)": framing.frame_table(ts, spec),
        "reconstruct (single shuffle)": inverse.reconstruct(
            framing.frame_table(ts, spec), spec
        ),
        "asof_join (single exchange)": asof.asof_join(
            ev.where(F.col("event_type") == "view"),
            ev.where(F.col("event_type").isin("click", "purchase")),
        ),
        "sessionize": sessionize.session_summary(ev),
        "duplicate_gram_spans (one explode, hash-led window count)": dedup.duplicate_gram_spans(ts),
        "text_scrub (zero-exchange narrow map)": textclean.scrub_text(
            spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        ),
        "semdedup_pairs (kernel assign + cluster-keyed join)":
            similarity.semdedup_pairs(
                spark.read.parquet(f"{sf}/embeddings.parquet"), threshold=0.2
            ),
        "nb_quality (64-key train agg + broadcast score)":
            textstats.nb_quality(ts),
        "hll_distinct (O(64) mergeable state)":
            sketch.hll_distinct_tokens(ts),
        "dsir_sample (broadcast lam + TakeOrdered, no doc join)":
            mixing.dsir_sample(ts, 50),
        "lm_perplexity (two broadcast count tables)":
            textstats.lm_perplexity(ts),
        "bm25 (broadcast-pruned postings + pinned-fold scoring)":
            retrieval.retrieval_topk(
                spark.read.parquet(f"{sf}/documents.parquet")
            ),
        "winnow_fingerprints (zero-shuffle HOF selection)":
            textstats.winnow_fingerprints(ts),
    }
    for name, df in plans.items():
        print(f"\n{'=' * 70}\n{name}\n{'=' * 70}")
        df.explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()
