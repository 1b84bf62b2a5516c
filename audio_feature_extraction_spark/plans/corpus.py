"""End-to-end pretraining-corpus preparation — the integration story.

Chains the engine's LLM-data operators into the pipeline a real corpus
run executes, in the canonical order:

1. exact dedup        (hash groupBy on text — drop byte-identical docs)
2. near-dup removal   (MinHash-LSH candidates -> exact n-gram Jaccard
                       verify -> greedy keep-lowest-id survivor)
2b. substring dedup   (optional: cut duplicated k-gram spans inside the
                       survivors — the ExactSubstr pass; off by default)
2c. semantic dedup    (optional: SemDeDup over the embeddings table —
                       drop docs dominated by a same-cluster cosine
                       near-duplicate; off by default)
3. quality filter     (Gopher-style repetition rules + minimum length)
3b. learned filter    (optional: Naive-Bayes quality score trained on
                       the corpus's own deterministic 'train' split;
                       off by default)
4. decontamination    (drop TRAIN docs sharing 8-gram shingles with the
                       held-out test split)
4b. DSIR selection    (optional: Gumbel-top-k importance resampling to
                       a fixed doc budget — content-based selection,
                       Xie et al.; off by default)
5. corpus mixing      (per-source rates with upsampling epochs)
6. sequence packing   (fixed-length training-block manifest)

Every stage is one of the individually oracle-checked operators; this
module only composes them and accounts for what each stage dropped.
Scale shape is the sum of its parts: narrow maps + hash-partitioned
groupBys/joins, no collect, no cross join — the same plan at sf0.001
and at 100 TB.

Greedy near-dup survivor note: a confirmed pair (a, b) with a < b drops
b. This is the standard single-pass policy (keeps connected components'
minimum only when the candidate graph covers the component — LSH
recall-dependent, like every production dedup); a union-find pass over
confirmed pairs is a drop-in refinement when exact component semantics
are required.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators import (
    bpe,
    dedup,
    mixing,
    split,
    textstats,
)
from audio_feature_extraction_spark.sources.tokens import load_token_sequences


@dataclass
class CorpusConfig:
    rates: dict[str, float] = field(default_factory=dict)
    default_rate: float = 1.0
    block_len: int = 4096
    jaccard_threshold: float = 0.7
    max_dup_line_frac: float = 0.5
    max_top_word_frac: float = 0.5
    min_words: int = 5
    contamination_n: int = 8
    lsh_max_bucket: int = 1000
    # exact connected-components survivors instead of the greedy
    # pair-drop (fixes under-merged chains a~b~c at the cost of an
    # iterative label-propagation pass over the confirmed-pair graph)
    exact_components: bool = False
    # substring-level dedup (Lee et al. ExactSubstr analog): set a
    # k-gram width to cut every duplicated span from the near-dup
    # survivors; docs emptied by the cut are dropped. None = off.
    substring_k: int | None = None
    substring_min_count: int = 2
    # SemDeDup semantic dedup over the embeddings table (stage 2c):
    # set a cosine threshold to drop every doc whose embedding has a
    # same-cluster dominator (docs without an embedding row are
    # untouched — embeddings may cover a corpus subset). None = off.
    semdedup_threshold: float | None = None
    semdedup_clusters: int = 16
    # learned quality filter (stage 3b): drop docs whose Naive-Bayes
    # quality score (integer micro-nats, textstats.nb_quality) falls
    # below this bound; the model trains on the pipeline's own
    # deterministic 'train' split. None = off; 0 = drop predicted-low.
    nb_min_score: int | None = None
    # DSIR content-based selection (stage 4b): keep only the top-k docs
    # under Gumbel-top-k importance resampling (mixing.dsir_sample —
    # log p_target/q_raw over hashed bigrams). The budgeted selection a
    # real pretraining run applies AFTER cleaning, before mixing.
    # None = off.
    dsir_k: int | None = None
    # subword retokenization (stage 4c): train a BPE vocabulary of
    # this many merges ON THE SURVIVING docs (the cleaned corpus is the
    # distribution the tokenizer should fit) and replace the token axis
    # with bpe ids before mixing/packing — raw text in, packed subword
    # blocks out. Training is one word-histogram shuffle + a bounded
    # driver loop (operators/bpe); encoding is a shuffle-free map.
    # None = keep the original tokens.
    bpe_merges: int | None = None
    bpe_max_words: int = 1_000_000
    # per-stage row counts in the report. Each count materializes the
    # chain-so-far, so accounting caches every stage (persist + count,
    # released once the next stage lands; the last one is the returned
    # frame, which the caller releases). accounting=False skips the
    # counts AND the caching: one lazy plan end-to-end, materialized
    # once by the final write — the 100 TB production mode, where stage
    # counts come from the written manifest instead of extra passes.
    accounting: bool = True
    # stage-level resume (VERDICT r03 #2): every stage's output is
    # committed as one atomic snapshot under resume_dir/stage=<name>;
    # a rerun skips stages whose snapshot is already committed and
    # rebuilds the rest from the committed bytes of their inputs, so a
    # resumed run's outputs are identical to an uninterrupted one. A
    # crash mid-stage leaves only an invisible staged dir. None = the
    # single-lazy-plan mode (no intermediate materialization).
    resume_dir: str | None = None


def _built(out) -> tuple[DataFrame, dict]:
    """A stage builder's result as ``(DataFrame, report fields)``."""
    return out if isinstance(out, tuple) else (out, {})


def prepare_corpus(
    spark: SparkSession,
    sf_dir: str,
    cfg: CorpusConfig | None = None,
    docs: DataFrame | None = None,
    tokseq: DataFrame | None = None,
    emb: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, dict]:
    """Run the 6-stage pipeline; returns (kept token sequences with
    epochs, packed-block manifest, per-stage report dict).

    In accounting mode without ``resume_dir`` the returned sequences are
    the last stage's cache (every earlier stage's is already released),
    so writing them and the manifest does not recompute the chain. The
    caller owns that cache: release it with ``mixed.unpersist()`` once
    both outputs are written, or it stays for the session's lifetime.

    ``docs``/``tokseq`` override the default sf_dir tables (tests plant
    rows that way); tokseq doc_ids must be ``doc_<documents.doc_id>``.
    """
    cfg = cfg or CorpusConfig()
    if docs is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if tokseq is None:
        tokseq = load_token_sequences(spark, sf_dir)
    report: dict = {}
    _prev: list[DataFrame] = []
    resumed: list[str] = []

    def stage(name: str, build) -> DataFrame:
        """Run one stage. ``build()`` returns the stage's DataFrame, or
        ``(DataFrame, fields)`` where ``fields`` is a dict of small
        report values the stage computes on the way."""
        if cfg.resume_dir is not None:
            # stage-level resume: one atomic snapshot per stage. build()
            # runs only when this stage's snapshot is missing: it is a
            # lazy plan over the committed bytes of its inputs plus
            # whatever eager work its operators do (model fits, probes),
            # so a resumed stage starts no job, and a resumed run
            # recomputes only the missing suffix and lands on the same
            # bytes an uninterrupted one produces. Report fields ride in
            # the snapshot's properties.
            from audio_feature_extraction_spark.sinks import snapshots as sn

            table = os.path.join(cfg.resume_dir, f"stage={name}")
            if sn.current_version(table) is None:
                df, fields = _built(build())
                sn.write_snapshot(
                    df, table, mode="overwrite",
                    properties={"stage": name, "report": fields},
                )
            else:
                resumed.append(name)
                fields = sn.snapshot_properties(table).get("report", {})
            report.update(fields)
            df = sn.read_snapshot(spark, table)
            if cfg.accounting:
                report[name] = df.count()
            return df
        df, fields = _built(build())
        report.update(fields)
        if not cfg.accounting:
            return df
        df = df.persist()
        report[name] = df.count()
        while _prev:  # previous stage fully consumed — release it
            _prev.pop().unpersist()
        _prev.append(df)
        return df

    if cfg.accounting:
        report["input_docs"] = docs.count()

    # 1. exact dedup (text hash) — survivors keep the min doc_id
    def exact():
        kept = dedup.exact_dedup(docs).select(
            F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias(
                "doc_id"
            )
        )
        # sort-merge hint: both sides are shuffles of unknown size, and
        # AQE broadcast whichever side's stage finished first, so the
        # plan (and its generated classes) changed from call to call
        return tokseq.join(kept.hint("merge"), "doc_id")

    ts = stage("after_exact_dedup", exact)

    # 2. near-dup removal: LSH candidates -> exact Jaccard -> greedy drop
    def near():
        pairs = dedup.lsh_candidate_pairs(
            ts, max_bucket_size=cfg.lsh_max_bucket
        )
        confirmed = dedup.jaccard_on_pairs(pairs, ts).where(
            F.col("jaccard") >= cfg.jaccard_threshold
        )
        if cfg.exact_components:
            return dedup.dedup_survivors_by_component(
                ts, confirmed.select("doc_a", "doc_b")
            )
        drop = confirmed.select(F.col("doc_b").alias("doc_id")).distinct()
        return ts.join(drop, "doc_id", "left_anti")

    ts = stage("after_near_dedup", near)

    # 2b. substring dedup (optional): rewrite survivors with duplicated
    # k-gram spans cut; n_tok tracks the rewritten length so packing
    # downstream stays consistent
    if cfg.substring_k is not None:

        def substring():
            rest = [
                c for c in ts.columns if c not in ("doc_id", "tokens", "n_tok")
            ]
            stripped = dedup.strip_duplicate_spans(
                ts, k=cfg.substring_k, min_count=cfg.substring_min_count
            )
            return stripped.select(
                "doc_id",
                F.col("tokens_clean").alias("tokens"),
                F.col("n_kept").cast("int").alias("n_tok"),
                *rest,
            ).where(F.col("n_tok") > 0)

        ts = stage("after_substring_dedup", substring)

    # 2c. semantic dedup (optional, SemDeDup): drop docs whose
    # embedding is dominated by a same-cluster lower-id near-duplicate
    if cfg.semdedup_threshold is not None:

        def semantic():
            from audio_feature_extraction_spark.operators import similarity

            vecs = emb
            if vecs is None:
                vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            sem_drop = similarity.semdedup_pairs(
                vecs,
                threshold=cfg.semdedup_threshold,
                n_clusters=cfg.semdedup_clusters,
            ).select(
                # id_b is never null; the coalesce tells the optimizer so.
                # A nullable key made the anti join infer an isnotnull
                # filter that reached only one side of semdedup's
                # self-join, so the two sides no longer shared one
                # exchange and AQE broadcast whichever finished first
                F.concat(
                    F.lit("doc_"),
                    F.coalesce(F.col("id_b").cast("string"), F.lit("")),
                ).alias("doc_id")
            )
            return ts.join(sem_drop, "doc_id", "left_anti")

        ts = stage("after_semantic_dedup", semantic)

    # 3. quality filter: repetition + minimum length
    def quality():
        rep = textstats.repetition_stats(docs)
        bad_quality = rep.where(
            (F.col("dup_line_frac") > cfg.max_dup_line_frac)
            | (F.col("top_word_frac") > cfg.max_top_word_frac)
            | (F.col("n_words") < cfg.min_words)
        ).select(
            F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias(
                "doc_id"
            )
        )
        return ts.join(bad_quality, "doc_id", "left_anti")

    ts = stage("after_quality", quality)

    # 3b. learned quality filter (optional): Naive-Bayes score over
    # hashed token buckets, trained on this corpus's own deterministic
    # 'train' split; drops docs scoring below the bound
    if cfg.nb_min_score is not None:

        def nb():
            nb_drop = textstats.nb_quality(ts).where(
                F.col("nb_score_micro") < cfg.nb_min_score
            ).select("doc_id")
            return ts.join(nb_drop, "doc_id", "left_anti")

        ts = stage("after_nb_quality", nb)

    # 4. decontamination: drop TRAIN docs sharing shingles with TEST
    def decontaminate():
        tagged = split.assign_split(ts, "doc_id")
        train = tagged.where("split = 'train'")
        heldout = tagged.where("split != 'train'")
        contaminated = dedup.contamination(
            train, heldout, n=cfg.contamination_n
        ).where(F.col("n_matched") > 0).select("doc_id")
        return tagged.join(contaminated, "doc_id", "left_anti").drop("split")

    ts = stage("after_decontamination", decontaminate)

    # 4b. DSIR selection (optional): content-based importance
    # resampling to a fixed doc budget — the k survivors' ids are tiny
    # by construction, so the keep-filter is a broadcast semi join
    if cfg.dsir_k is not None:

        def dsir():
            keep = mixing.dsir_sample(ts, cfg.dsir_k).select("doc_id")
            return ts.join(F.broadcast(keep), "doc_id", "left_semi")

        ts = stage("after_dsir", dsir)

    # 4c. subword retokenization (optional): BPE trains on the
    # surviving docs' text, then the token axis becomes bpe ids — the
    # last content transform before mixing/packing
    if cfg.bpe_merges is not None:

        def retokenize():
            surviving = docs.join(
                ts.selectExpr(
                    "cast(substring(doc_id, 5) as long) as doc_id"
                ).distinct(),
                "doc_id",
                "left_semi",
            )
            model = bpe.train_bpe(
                surviving, n_merges=cfg.bpe_merges,
                max_words=cfg.bpe_max_words,
            )
            enc = bpe.bpe_encode(surviving, model).selectExpr(
                "concat('doc_', doc_id) as doc_id",
                "bpe_ids as tokens",
                "n_bpe as n_tok",
            )
            return ts.drop("tokens", "n_tok").join(enc, "doc_id"), {
                "bpe_vocab_size": len(model.vocab) + 1,
                "bpe_dropped_words": model.dropped_words,
            }

        ts = stage("after_bpe", retokenize)

    # 5. corpus mixing: per-source rates, deterministic epochs
    mixed = stage(
        "after_mixing",
        lambda: mixing.sample_by_rates(
            ts, cfg.rates, default=cfg.default_rate
        ),
    )

    # 6. pack into fixed training blocks (epoch copies get distinct ids
    # so the packer's (source, doc_id) order stays total)
    def pack():
        packable = mixed.withColumn(
            "doc_id",
            F.concat_ws("#e", "doc_id", F.col("epoch").cast("string")),
        )
        return mixing.pack_blocks(packable, cfg.block_len)

    if cfg.resume_dir is not None:
        blocks = stage("packed", pack)
        report["resumed_stages"] = resumed
    else:
        blocks = pack()
    if cfg.accounting:
        report["packed_slices"] = blocks.count()
        report["n_blocks"] = (
            blocks.select("source", "block_id").distinct().count()
        )
    report["block_len"] = cfg.block_len
    return mixed, blocks, report
