"""Corpus mixing (weighted sampling + epochs) and sequence packing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.core.schemas import TOKEN_SEQUENCES
from audio_feature_extraction_spark.operators import mixing


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, schema=TOKEN_SEQUENCES)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(200):
        src = ["web", "books", "wiki"][i % 3]
        toks = list(range(i % 7 + 1))
        rows.append((f"doc_{i}", toks, len(toks), src))
    return _mkdf(spark, rows)


def test_mixing_epoch_counts(spark, corpus):
    out = mixing.sample_by_rates(
        corpus, {"web": 2.0, "books": 0.0, "wiki": 0.5}
    )
    per_src = {
        r.source: r.cnt
        for r in out.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    n_web = corpus.where("source = 'web'").count()
    n_wiki = corpus.where("source = 'wiki'").count()
    assert per_src["web"] == 2 * n_web         # exactly two epochs, all docs
    assert "books" not in per_src              # rate 0 drops the domain
    assert 0 < per_src.get("wiki", 0) < n_wiki  # fractional: strict subset
    # epochs are 0-based and dense for integer rates
    webs = out.where("source = 'web'").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("epoch")).alias("es")
    )
    assert all(r.es == [0, 1] for r in webs.collect())


def test_mixing_deterministic(spark, corpus):
    a = sorted(
        (r.doc_id, r.epoch)
        for r in mixing.sample_by_rates(corpus, {"wiki": 0.5}, default=1.0).collect()
    )
    b = sorted(
        (r.doc_id, r.epoch)
        for r in mixing.sample_by_rates(corpus, {"wiki": 0.5}, default=1.0).collect()
    )
    assert a == b


@pytest.fixture(scope="module")
def quality_corpus(spark):
    """Half fluent-ish docs (distinct tokens), half degenerate
    (one token repeated) — exercises the content-quality split the
    learned selectors (DSIR / LM perplexity) should separate."""
    rows = []
    for i in range(120):
        src = ["web", "books"][i % 2]
        if i % 2 == 0:
            toks = [(i * 13 + j * 7) % 50 for j in range(12)]  # varied
        else:
            toks = [i % 5] * 12                                # degenerate
        rows.append((f"doc_{i}", toks, len(toks), src))
    rows.append(("doc_short", [1], 1, "web"))   # too short for a bigram
    rows.append(("doc_empty", [], 0, "web"))
    return _mkdf(spark, rows)


def test_dsir_weights_cover_all_docs(spark, quality_corpus):
    out = mixing.dsir_weights(quality_corpus).collect()
    assert len(out) == quality_corpus.count()
    by_id = {r.doc_id: r for r in out}
    # bigram feature count is n_tok - 1 (0 for too-short docs)
    assert by_id["doc_short"].n_feats == 0
    assert by_id["doc_empty"].n_feats == 0
    assert by_id["doc_short"].lw_micro == 0
    assert by_id["doc_0"].n_feats == 11
    # key = weight + Gumbel noise, never equal to the bare weight
    assert all(r.key_micro != r.lw_micro for r in out)


def test_dsir_favors_target_like_docs(spark, quality_corpus):
    out = mixing.dsir_weights(quality_corpus).collect()
    varied = [r.lw_micro for r in out if r.doc_id.startswith("doc_") and
              r.n_feats > 0 and int(r.doc_id.split("_")[1] or 0) % 2 == 0
              if r.doc_id != "doc_short"]
    degen = [r.lw_micro for r in out if r.n_feats > 0 and
             r.doc_id not in ("doc_short", "doc_empty") and
             int(r.doc_id.split("_")[1]) % 2 == 1]
    assert sum(varied) / len(varied) > sum(degen) / len(degen)


def test_dsir_sample_is_topk_of_weights(spark, quality_corpus):
    k = 25
    sample = mixing.dsir_sample(quality_corpus, k).collect()
    assert len(sample) == k
    assert sorted(r.sample_rank for r in sample) == list(range(1, k + 1))
    # rank order follows (key desc, doc_id) and matches a brute-force
    # top-k over the full weight frame
    brute = sorted(
        mixing.dsir_weights(quality_corpus).collect(),
        key=lambda r: (-r.key_micro, r.doc_id),
    )[:k]
    got = sorted(sample, key=lambda r: r.sample_rank)
    assert [r.doc_id for r in got] == [r.doc_id for r in brute]
    # deterministic across runs
    again = mixing.dsir_sample(quality_corpus, k).collect()
    assert sorted((r.doc_id, r.sample_rank) for r in again) == sorted(
        (r.doc_id, r.sample_rank) for r in sample
    )


def test_dsir_lm_parity_on_extreme_token_ids(spark):
    """Spark-vs-DuckDB parity for the learned selectors on adversarial
    token ids (int32 edges, negatives): the BIGINT-promoted hash
    arithmetic must agree exactly where un-promoted int32 math would
    wrap in Spark and error in DuckDB."""
    import duckdb
    import pandas as pd

    from audio_feature_extraction_spark.operators import textstats

    edge = [2147483647, -2147483648, -1, 0, 32767, -32768, 2147483000]
    rows = []
    for i in range(24):
        toks = [edge[(i + j) % len(edge)] for j in range(6)] + [i * 3, i]
        rows.append((f"doc_{i}", toks, len(toks), "web"))
    rows.append(("doc_nodigits", [2147483647, -2147483648], 2, "web"))
    tokseq = _mkdf(spark, rows)

    sw = (
        mixing.dsir_weights(tokseq)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    sl = (
        textstats.lm_perplexity(tokseq)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "tokens", "n_tok", "source"]
    )
    con.register("tokseq_t", pdf)
    pre = (
        "WITH tokseq AS (SELECT doc_id, "
        "CAST(tokens AS BIGINT[]) AS tokens, n_tok, source FROM tokseq_t)"
    )
    ow = con.execute(
        f"{pre}, {mixing.dsir_weights_oracle_sql('tokseq')} ORDER BY doc_id"
    ).df()
    ol = con.execute(
        f"{pre}, {textstats.lm_perplexity_oracle_sql('tokseq')} "
        f"ORDER BY doc_id"
    ).df()
    assert len(sw) == len(ow) == len(rows)
    for c in ["n_feats", "lw_micro", "key_micro"]:
        assert (sw[c].values == ow[c].values).all(), c
    assert len(sl) == len(ol) == len(rows)  # every doc has >= 1 bigram
    for c in ["n_bigrams", "nll_micro", "mnll_micro"]:
        assert (sl[c].values == ol[c].values).all(), c


def test_dsir_null_token_elements_match_duckdb(spark):
    """A NULL element inside a tokens array nulls the bigram features
    that touch it. Those features drop out of the fold, so ``n_feats``
    and ``lw_micro`` cover only the non-null features, and the fit
    counts them in the split totals but in no bucket. Spark and the
    DuckDB twin must agree row for row, and the kernel fit must agree
    with the SQL trainer."""
    import duckdb
    import pandas as pd

    rows = []
    for i in range(30):
        toks = [(i * 13 + j * 7) % 50 for j in range(8)]
        if i % 3 == 0:
            toks[i % 8] = None          # one null element, varying place
        rows.append((f"doc_{i}", toks, len(toks), "web"))
    rows.append(("doc_allnull", [None, None, None], 3, "web"))
    rows.append(("doc_nullpair", [None, 5], 2, "web"))
    # NULL is no distinct value: 2 distinct of 5 is not target-like
    rows += [(f"doc_{40 + i}", [1, 2, None, None, None], 5, "web")
             for i in range(6)]
    tokseq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )

    sw = mixing.dsir_weights(tokseq).orderBy("doc_id").toPandas()
    con = duckdb.connect()
    con.register(
        "tokseq_t",
        pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"]),
    )
    ow = con.execute(
        "WITH tokseq AS (SELECT doc_id, CAST(tokens AS BIGINT[]) AS tokens, "
        f"n_tok, source FROM tokseq_t), "
        f"{mixing.dsir_weights_oracle_sql('tokseq')} ORDER BY doc_id"
    ).df()
    assert list(sw["doc_id"]) == list(ow["doc_id"])
    for c in ["n_feats", "lw_micro", "key_micro"]:
        assert sw[c].notna().all(), c
        assert (sw[c].values == ow[c].values).all(), c
    by_id = sw.set_index("doc_id")
    assert by_id.loc["doc_allnull", "n_feats"] == 0
    assert by_id.loc["doc_allnull", "lw_micro"] == 0
    assert by_id.loc["doc_0", "n_feats"] == 6   # 7 bigrams, 1 touches null
    # the kernel fit agrees with the SQL trainer on null elements too
    kl = mixing._dsir_fit_literals_kernel(tokseq)
    sl = {r.b: int(r.lam) for r in mixing.dsir_lambda_table(tokseq).collect()}
    assert kl == [sl[b] for b in range(mixing.DSIR_BUCKETS)]


@pytest.mark.parametrize("op", ["nb_quality", "lm_perplexity"])
def test_null_token_elements_match_duckdb(spark, op):
    """nb_quality and lm_perplexity agree with their DuckDB twins row for
    row when tokens arrays hold NULL elements: NB drops NULL tokens from
    the label's distinct count and from every bucket (a doc with no
    non-null token drops out), LM counts a bigram touching NULL with the
    unseen-bucket weight. NB's kernel fit agrees with its SQL trainer."""
    import duckdb
    import pandas as pd

    from audio_feature_extraction_spark.operators import textstats

    rows = []
    for i in range(30):
        toks = [(i * 13 + j * 7) % 50 for j in range(8)]
        if i % 3 == 0:
            toks[i % 8] = None          # one null element, varying place
        rows.append((f"doc_{i}", toks, len(toks), "web"))
    # digit-bearing ids: the NB twin CASTs the id's digits, which
    # DuckDB refuses for an id without any
    rows.append(("doc_90", [None, None, None], 3, "web"))
    rows.append(("doc_91", [None, 5], 2, "web"))
    # NULL is no distinct value: 2 distinct of 5 is not label-1
    rows += [(f"doc_{40 + i}", [1, 2, None, None, None], 5, "web")
             for i in range(6)]
    tokseq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    got = getattr(textstats, op)(tokseq).orderBy("doc_id").toPandas()
    con = duckdb.connect()
    con.register(
        "tokseq_t",
        pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"]),
    )
    want = con.execute(
        "WITH tokseq AS (SELECT doc_id, CAST(tokens AS BIGINT[]) AS tokens, "
        "n_tok, source FROM tokseq_t), "
        f"{getattr(textstats, op + '_oracle_sql')('tokseq')} ORDER BY doc_id"
    ).df()
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got.columns) == list(want.columns)
    for c in got.columns[1:]:
        assert got[c].notna().all(), c
        assert (got[c].values == want[c].values).all(), c
    if op == "nb_quality":
        assert "doc_90" not in set(got["doc_id"])  # no non-null token
        mostly_null = got["doc_id"].isin([f"doc_{40 + i}" for i in range(6)])
        assert set(got.loc[mostly_null, "weak_label"]) == {0}
        wtab, pri = textstats.nb_train(tokseq)
        assert textstats._nb_fit_literals_kernel(
            tokseq
        ) == textstats.nb_model_literals(wtab, pri)


def test_lm_perplexity_separates_quality(spark, quality_corpus):
    from audio_feature_extraction_spark.operators import textstats

    out = textstats.lm_perplexity(quality_corpus).collect()
    by_id = {r.doc_id: r for r in out}
    # docs without a bigram drop out (explode semantics)
    assert "doc_short" not in by_id and "doc_empty" not in by_id
    assert all(r.n_bigrams == 11 for r in out)
    # degenerate docs repeat ONE bigram the train split saw often ->
    # lower mean NLL than the varied docs on average; and every NLL is
    # positive (probabilities < 1)
    assert all(r.nll_micro > 0 for r in out)
    varied = [r.mnll_micro for r in out if int(r.doc_id.split("_")[1]) % 2 == 0]
    degen = [r.mnll_micro for r in out if int(r.doc_id.split("_")[1]) % 2 == 1]
    assert sum(degen) / len(degen) < sum(varied) / len(varied)
    # mean NLL is total NLL / n_bigrams, floored
    for r in out:
        assert r.mnll_micro == r.nll_micro // r.n_bigrams


def test_packing_conservation(spark, corpus):
    B = 16
    out = mixing.pack_blocks(corpus, B).collect()
    # every doc's slices cover exactly its tokens, contiguously
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    n_tok = {r.doc_id: r.n_tok for r in corpus.collect()}
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r.block_id)
        assert sum(r.slice_len for r in rows) == n_tok[d]
        assert rows[0].doc_offset == 0
        for a, b in zip(rows, rows[1:]):
            assert b.doc_offset == a.doc_offset + a.slice_len
            assert b.block_id == a.block_id + 1
    # every block except the last per source is exactly full
    from collections import defaultdict

    fill = defaultdict(int)
    for r in out:
        fill[(r.source, r.block_id)] += r.slice_len
    for src in {r.source for r in out}:
        blocks = sorted(k[1] for k in fill if k[0] == src)
        for blk in blocks[:-1]:
            assert fill[(src, blk)] == B, (src, blk)
        assert 0 < fill[(src, blocks[-1])] <= B


def test_packing_block_offsets_disjoint(spark, corpus):
    B = 16
    out = mixing.pack_blocks(corpus, B).collect()
    seen = {}
    for r in out:
        key = (r.source, r.block_id)
        seen.setdefault(key, []).append((r.block_offset, r.block_offset + r.slice_len))
    for key, spans in seen.items():
        spans.sort()
        for a, b in zip(spans, spans[1:]):
            assert a[1] == b[0], (key, a, b)  # contiguous, non-overlapping


def test_prepare_corpus_pipeline(spark):
    """End-to-end corpus prep over planted rows: each stage drops
    exactly its planted offender and the accounting report agrees."""
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.operators import split as split_op
    from audio_feature_extraction_spark.plans import corpus
    from audio_feature_extraction_spark.sources.tokens import tokenize_expr

    def words(seed, n):
        # the word-hash tokenizer keys on (first char, length, last char)
        # — vary all three so distinct seeds give distinct token streams
        return " ".join(
            chr(97 + (seed * 5 + i * 3) % 26)
            + "x" * ((seed * 3 + i) % 7)
            + chr(97 + (seed * 11 + i * 7) % 26)
            for i in range(n)
        )

    base = {i: words(i, 30) for i in range(20)}
    # find one train and one held-out id under the pipeline's id scheme
    probe = spark.createDataFrame([(f"doc_{i}",) for i in base], "doc_id string")
    sp = {r.doc_id: r.split for r in split_op.assign_split(probe, "doc_id").collect()}
    train_id = next(i for i in base if sp[f"doc_{i}"] == "train")
    test_id = next(i for i in base if sp[f"doc_{i}"] != "train")
    # decontamination plant: train doc copies a 10-word span of the test doc
    base[train_id] = " ".join(base[test_id].split()[:10]) + " " + words(999, 10)

    rows = [(i, t, "en", "web", len(t)) for i, t in base.items()]
    rows.append((100, base[0], "en", "web", len(base[0])))    # exact dup of 0
    near = base[1].split()
    near[-1] = "zzzdiff"
    rows.append((101, " ".join(near), "en", "web", 0))        # near-dup of 1
    rows.append((102, ("spam " * 40).strip(), "en", "web", 0))  # quality fail
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    toks = tokenize_expr()
    tokseq = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        toks.alias("tokens"),
        F.size(toks).cast("int").alias("n_tok"),
        "source",
    )
    mixed, blocks, report = corpus.prepare_corpus(
        spark, "", cfg=corpus.CorpusConfig(block_len=64),
        docs=docs, tokseq=tokseq,
    )
    kept = {r.doc_id for r in mixed.select("doc_id").distinct().collect()}

    assert report["input_docs"] == 23
    assert report["after_exact_dedup"] == 22          # doc_100 gone
    assert "doc_100" not in kept
    assert report["after_near_dedup"] == 21           # doc_101 gone
    assert "doc_101" not in kept
    assert report["after_quality"] == 20              # doc_102 gone
    assert "doc_102" not in kept
    assert report["after_decontamination"] == 19      # planted train doc gone
    assert f"doc_{train_id}" not in kept
    assert f"doc_{test_id}" in kept                   # held-out side untouched
    # default rate 1.0 -> one epoch, mixing drops nothing
    assert report["after_mixing"] == 19
    assert report["packed_slices"] >= report["n_blocks"] >= 1
    # manifest covers every kept token exactly once
    total_tokens = mixed.agg(F.sum("n_tok")).collect()[0][0]
    slice_tokens = blocks.agg(F.sum("slice_len")).collect()[0][0]
    assert slice_tokens == total_tokens
    mixed.unpersist()


def test_prepare_corpus_kill_and_resume(spark, tmp_path):
    """VERDICT r03 #2 (integration): SIGKILL the pipeline driver after
    the third stage snapshot commits, rerun against the same resume dir,
    and the resumed run (a) skips exactly the committed stages and
    (b) produces output identical to an uninterrupted single-lazy-plan
    run. Real subprocesses — nothing survives the kill except what the
    snapshot layer committed."""
    import json
    import os
    import subprocess
    import sys

    script = os.path.join(os.path.dirname(__file__), "corpus_crash_run.py")
    sf = "/root/testdata/sf0.001"
    resume = str(tmp_path / "resume")
    env = {**os.environ, "PYTHONPATH": os.path.dirname(os.path.dirname(script))}

    r1 = subprocess.run(
        [sys.executable, script, sf, resume, str(tmp_path / "out_dead"),
         "--crash-after", "3"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r1.returncode == -9, r1.stderr[-2000:]  # actually SIGKILLed
    committed = sorted(
        d for d in os.listdir(resume) if d.startswith("stage=")
    )
    assert committed == [
        "stage=after_exact_dedup", "stage=after_near_dedup",
        "stage=after_quality",
    ]

    r2 = subprocess.run(
        [sys.executable, script, sf, resume, str(tmp_path / "out_resumed")],
        capture_output=True, text=True, env=env, timeout=600, check=True,
    )
    rep = json.loads(r2.stdout.strip().splitlines()[-1])
    assert rep["resumed_stages"] == [
        "after_exact_dedup", "after_near_dedup", "after_quality"
    ]

    r3 = subprocess.run(
        [sys.executable, script, sf, str(tmp_path / "unused"),
         str(tmp_path / "out_plain"), "--no-resume"],
        capture_output=True, text=True, env=env, timeout=600, check=True,
    )
    json.loads(r3.stdout.strip().splitlines()[-1])

    def rows(d):
        corpus_rows = sorted(
            (r.doc_id, r.source, r.epoch, tuple(r.tokens))
            for r in spark.read.parquet(f"{tmp_path}/{d}/corpus").collect()
        )
        block_rows = sorted(
            tuple(r) for r in spark.read.parquet(f"{tmp_path}/{d}/blocks")
            .select("source", "block_id", "doc_id", "doc_offset",
                    "block_offset", "slice_len")
            .collect()
        )
        return corpus_rows, block_rows

    assert rows("out_resumed") == rows("out_plain")


def test_prepare_corpus_substring_stage(spark):
    """Optional stage 2b: a 12-word run shared by two otherwise-distinct
    docs is cut from BOTH (k=8 grams), and a doc that is nothing but the
    shared run is emptied and dropped."""
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.plans import corpus
    from audio_feature_extraction_spark.sources.tokens import tokenize_expr

    def words(seed, n):
        return " ".join(
            chr(97 + (seed * 5 + i * 3) % 26)
            + "x" * ((seed * 3 + i) % 7)
            + chr(97 + (seed * 11 + i * 7) % 26)
            for i in range(n)
        )

    run = words(7, 12)
    texts = {
        0: run + " " + words(1, 28),      # shared run + unique tail
        1: run + " " + words(2, 28),      # same run, different tail
        2: run,                           # nothing but the run -> emptied
        3: words(3, 30),                  # untouched control
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    toks = tokenize_expr()
    tokseq = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        toks.alias("tokens"),
        F.size(toks).cast("int").alias("n_tok"),
        "source",
    )
    mixed, _blocks, report = corpus.prepare_corpus(
        spark, "",
        cfg=corpus.CorpusConfig(block_len=64, substring_k=8, min_words=3),
        docs=docs, tokseq=tokseq,
    )
    out = {r.doc_id: r.n_tok for r in mixed.select("doc_id", "n_tok").collect()}
    mixed.unpersist()
    assert report["after_near_dedup"] == 4       # low jaccard: all survive
    assert report["after_substring_dedup"] == 3  # doc_2 emptied and dropped
    assert out["doc_0"] == 28 and out["doc_1"] == 28
    assert out["doc_3"] == 30
    assert "doc_2" not in out


def test_prepare_corpus_exact_components_chain(spark):
    """exact_components: on a chain a~hub~b whose ends are not near-dups
    of each other, the greedy pair-drop removes only the hub (each
    confirmed pair drops its larger id) and keeps both ends, while
    connected components keep only the chain's min id."""
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.operators import dedup
    from audio_feature_extraction_spark.operators import split as split_op
    from audio_feature_extraction_spark.plans import corpus
    from audio_feature_extraction_spark.sources.tokens import tokenize_expr

    def words(seed, n):
        return " ".join(
            chr(97 + (seed * 5 + i * 3) % 26)
            + "x" * ((seed * 3 + i) % 7)
            + chr(97 + (seed * 11 + i * 7) % 26)
            for i in range(n)
        )

    # three held-out ids: decontamination drops only train docs, so the
    # kept set is the near-dedup survivors. Pairs order ids as strings.
    probe = spark.createDataFrame(
        [(f"doc_{i}",) for i in range(1, 60)], "doc_id string"
    )
    held = sorted(
        r.doc_id for r in split_op.assign_split(probe, "doc_id").collect()
        if r.split != "train"
    )
    a, b, hub = held[:3]
    # a replaces the hub's first 5 words and b its last 5, so each end
    # shares 34 of 44 bigrams with the hub and 29 of 49 with the other
    hub_words = words(3, 40).split()
    texts = {
        a: " ".join(words(41, 5).split() + hub_words[5:]),
        b: " ".join(hub_words[:-5] + words(42, 5).split()),
        hub: " ".join(hub_words),
    }
    docs = spark.createDataFrame(
        [(int(d[4:]), t, "en", "web", len(t)) for d, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    toks = tokenize_expr()
    tokseq = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        toks.alias("tokens"),
        F.size(toks).cast("int").alias("n_tok"),
        "source",
    )
    confirmed = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_on_pairs(
            dedup.lsh_candidate_pairs(tokseq), tokseq
        ).where(F.col("jaccard") >= corpus.CorpusConfig.jaccard_threshold)
        .collect()
    }
    assert confirmed == {(a, hub), (b, hub)}

    def kept(exact_components):
        cfg = corpus.CorpusConfig(
            block_len=64, exact_components=exact_components
        )
        mixed, _blocks, report = corpus.prepare_corpus(
            spark, "", cfg=cfg, docs=docs, tokseq=tokseq
        )
        out = {r.doc_id for r in mixed.select("doc_id").collect()}
        mixed.unpersist()
        assert report["after_near_dedup"] == len(out)
        return out

    assert kept(False) == {a, b}
    assert kept(True) == {a}


def test_prepare_corpus_semdedup_and_nb_stages(spark):
    """Stage 2c (SemDeDup) drops the planted embedding near-dup; stage
    3b (NB quality) drops exactly the docs scoring below the bound."""
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.operators import textstats
    from audio_feature_extraction_spark.plans import corpus
    from audio_feature_extraction_spark.sources.tokens import tokenize_expr

    def words(seed, n):
        return " ".join(
            chr(97 + (seed * 5 + i * 3) % 26)
            + "x" * ((seed * 3 + i) % 7)
            + chr(97 + (seed * 11 + i * 7) % 26)
            for i in range(n)
        )

    rows = [(i, words(i, 30), "en", "web", 0) for i in range(20)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    toks = tokenize_expr()
    tokseq = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        toks.alias("tokens"),
        F.size(toks).cast("int").alias("n_tok"),
        "source",
    )
    # embeddings: orthogonal-ish basis vectors except 7 ≈ 3 (dominated)
    dim = 32
    def basis(i, eps=0.0):
        v = [0.0] * dim
        v[i % dim] = 1.0
        v[(i + 1) % dim] = eps
        return v

    emb_rows = [(i, basis(i)) for i in range(20)]
    emb_rows[7] = (7, basis(3, eps=0.01))           # near-copy of vec 3
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")

    mixed, _blocks, report = corpus.prepare_corpus(
        spark, "",
        cfg=corpus.CorpusConfig(
            block_len=64, semdedup_threshold=0.95, semdedup_clusters=4
        ),
        docs=docs, tokseq=tokseq, emb=emb,
    )
    kept = {r.doc_id for r in mixed.select("doc_id").distinct().collect()}
    mixed.unpersist()
    assert "doc_7" not in kept                      # dominated by doc_3
    assert "doc_3" in kept
    assert report["after_semantic_dedup"] == report["after_near_dedup"] - 1

    # NB stage: pick a bound that splits the planted corpus, assert the
    # pipeline drops exactly the docs the operator scores below it
    scores = {
        r.doc_id: r.nb_score_micro
        for r in textstats.nb_quality(tokseq).collect()
    }
    bound = sorted(scores.values())[len(scores) // 2]
    low = {d for d, s in scores.items() if s < bound}
    mixed2, _b2, rep2 = corpus.prepare_corpus(
        spark, "",
        cfg=corpus.CorpusConfig(block_len=64, nb_min_score=bound),
        docs=docs, tokseq=tokseq,
    )
    kept2 = {r.doc_id for r in mixed2.select("doc_id").distinct().collect()}
    mixed2.unpersist()
    assert kept2.isdisjoint(low)
    assert rep2["after_nb_quality"] == rep2["after_quality"] - len(
        low & {f"doc_{i}" for i in range(20)}
    )

    # 4b. DSIR selection: caps the corpus at exactly k docs,
    # deterministically; a budget above the corpus size is a no-op
    mixed3, _b3, rep3 = corpus.prepare_corpus(
        spark, "",
        cfg=corpus.CorpusConfig(block_len=64, dsir_k=8),
        docs=docs, tokseq=tokseq,
    )
    kept3 = {r.doc_id for r in mixed3.select("doc_id").distinct().collect()}
    mixed3.unpersist()
    assert rep3["after_dsir"] == 8 and len(kept3) == 8
    assert kept3 <= kept2 | low | kept  # subset of the cleaned corpus
    mixed3b, _b3b, rep3b = corpus.prepare_corpus(
        spark, "",
        cfg=corpus.CorpusConfig(block_len=64, dsir_k=8),
        docs=docs, tokseq=tokseq,
    )
    assert {
        r.doc_id for r in mixed3b.select("doc_id").distinct().collect()
    } == kept3
    mixed3b.unpersist()
    m4, _b4, rep4 = corpus.prepare_corpus(
        spark, "",
        cfg=corpus.CorpusConfig(block_len=64, dsir_k=10_000),
        docs=docs, tokseq=tokseq,
    )
    m4.unpersist()
    assert rep4["after_dsir"] == rep4["after_decontamination"]


def test_prepare_corpus_bpe_stage(spark):
    """Stage 4c: BPE trains on the SURVIVING docs only and replaces the
    token axis with subword ids; packing then conserves the new token
    count, and the dropped offenders never influence the vocabulary."""
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.operators import bpe
    from audio_feature_extraction_spark.plans import corpus
    from audio_feature_extraction_spark.sources.tokens import tokenize_expr

    # per-doc DISJOINT word sets (the word-hash tokenizer keys on first
    # char / length / last char — vary first char per doc) so the only
    # pipeline casualty is the planted exact dup
    rows = [
        (i, " ".join(
            chr(97 + i) + "y" * (j % 7) + chr(97 + (i * 3 + j) % 26)
            for j in range(20)
        ), "en", "web", 0)
        for i in range(12)
    ]
    rows.append((100, rows[0][1], "en", "web", 0))  # exact dup, dropped
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    toks = tokenize_expr()
    tokseq = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        toks.alias("tokens"),
        F.size(toks).cast("int").alias("n_tok"),
        "source",
    )
    mixed, blocks, report = corpus.prepare_corpus(
        spark, "", cfg=corpus.CorpusConfig(block_len=64, bpe_merges=30),
        docs=docs, tokseq=tokseq,
    )
    assert report["bpe_vocab_size"] > 1
    assert report["after_bpe"] == report["after_decontamination"]
    # tokens are now bpe ids and n_tok matches a model trained on the
    # SURVIVORS (doc 100 excluded)
    surviving = docs.where("doc_id != 100")
    model = bpe.train_bpe(surviving, n_merges=30)
    want = {
        f"doc_{r.doc_id}": [i for w in r.text.split(" ") if w
                            for i in model.encode_word_ids(w)]
        for r in surviving.collect()
    }
    got = {r.doc_id: list(r.tokens) for r in mixed.collect()}
    assert got == want
    # packing conserves the subword token count
    total = mixed.agg(F.sum("n_tok")).collect()[0][0]
    assert blocks.agg(F.sum("slice_len")).collect()[0][0] == total
    mixed.unpersist()


def _snapshot_inputs(spark):
    """(docs, tokseq, emb) for the snapshot-mode guards: 24 docs over
    two sources plus one exact duplicate, and 24 small embeddings."""
    from audio_feature_extraction_spark.sources.tokens import tokenize_expr

    def words(seed, n):
        return " ".join(
            chr(97 + (seed * 5 + i * 3) % 26)
            + "x" * ((seed * 3 + i) % 7)
            + chr(97 + (seed * 11 + i * 7) % 26)
            for i in range(n)
        )

    rows = [(i, words(i, 30), "en", ["web", "wiki"][i % 2], 0)
            for i in range(24)]
    rows.append((100, rows[0][1], "en", "web", 0))  # exact dup
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    toks = tokenize_expr()
    tokseq = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        toks.alias("tokens"),
        F.size(toks).cast("int").alias("n_tok"),
        "source",
    )
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    return docs, tokseq, emb


def test_prepare_corpus_caller_releases_accounting_cache(spark):
    """Accounting mode returns the last stage's cache, and the caller
    owns it: two default-config calls, each followed by
    ``mixed.unpersist()``, leave the cache manager empty and no new
    persisted RDD once the frames are dropped (the near-dup stage's LSH
    band table is a local checkpoint, which the ContextCleaner frees
    when the JVM collects the frames that read it)."""
    import gc
    import time

    from audio_feature_extraction_spark.plans import corpus

    docs, tokseq, _emb = _snapshot_inputs(spark)
    cache = spark._jsparkSession.sharedState().cacheManager()

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    spark.catalog.clearCache()
    start = persisted()
    for _ in range(2):
        mixed, blocks, _ = corpus.prepare_corpus(
            spark, "", cfg=corpus.CorpusConfig(), docs=docs, tokseq=tokseq
        )
        assert mixed.is_cached
        blocks.count()  # the caller's write reads the cache
        mixed.unpersist()
        assert cache.isEmpty()
    del mixed, blocks
    for _ in range(40):
        gc.collect()
        spark._jvm.System.gc()
        if persisted() <= start:
            break
        time.sleep(0.25)
    assert persisted() <= start, persisted() - start
    assert cache.isEmpty()


def test_prepare_corpus_warm_call_compiles_nothing(
    spark, tmp_path, jobs_started
):
    """Regression guard for the per-call fixed cost of snapshot mode.
    A second call over the same inputs finds every generated class in
    the codegen cache (0 Janino compilations; the session's cache holds
    a whole call's working set), and reading a committed stage back
    takes its schema from the manifest, so it starts no Spark job."""
    import os

    from audio_feature_extraction_spark.plans import corpus
    from audio_feature_extraction_spark.sinks import snapshots as sn

    docs, tokseq, emb = _snapshot_inputs(spark)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(resume):
        cfg = corpus.CorpusConfig(
            block_len=64, accounting=False, resume_dir=resume,
            substring_k=8, semdedup_threshold=0.9, semdedup_clusters=4,
            nb_min_score=0, dsir_k=12,
        )
        mixed, blocks, _ = corpus.prepare_corpus(
            spark, "", cfg=cfg, docs=docs, tokseq=tokseq, emb=emb
        )
        return [sorted(map(repr, df.collect())) for df in (mixed, blocks)]

    def compiles():
        return compiled.METRIC_COMPILATION_TIME().getCount()

    first = run(str(tmp_path / "r1"))
    before = compiles()
    assert run(str(tmp_path / "r2")) == first
    assert compiles() - before == 0

    table = str(tmp_path / "r2" / "stage=after_quality")
    assert jobs_started(
        "guard-read-snapshot", lambda: sn.read_snapshot(spark, table)
    ) == 0
    # the inferred read of the same dirs does start one (the control)
    dirs = sn._load_manifest(table, sn.current_version(table))["data_dirs"]
    paths = [os.path.join(table, d) for d in dirs]
    assert jobs_started(
        "guard-inferred-read", lambda: spark.read.parquet(*paths)
    ) >= 1


def test_prepare_corpus_resumed_call_starts_no_job(
    spark, tmp_path, jobs_started
):
    """A stage whose snapshot is committed is never built: a second
    call on the same resume dir starts no Spark job before its outputs
    are read (the model fits and probes inside the operators included),
    returns the same rows and the same report, and keeps the BPE fields
    from the snapshot's properties."""
    from audio_feature_extraction_spark.plans import corpus

    docs, tokseq, emb = _snapshot_inputs(spark)
    cfg = corpus.CorpusConfig(
        block_len=64, accounting=False, resume_dir=str(tmp_path / "r"),
        substring_k=8, semdedup_threshold=0.9, semdedup_clusters=4,
        nb_min_score=0, dsir_k=12, bpe_merges=20,
    )

    def call():
        return corpus.prepare_corpus(
            spark, "", cfg=cfg, docs=docs, tokseq=tokseq, emb=emb
        )

    def rows(df):
        return sorted(map(repr, df.collect()))

    mixed, blocks, report = call()
    first = [rows(mixed), rows(blocks)]
    out = []
    assert jobs_started("guard-resumed-call", lambda: out.extend(call())) == 0
    mixed2, blocks2, report2 = out
    assert [rows(mixed2), rows(blocks2)] == first
    assert report["resumed_stages"] == []
    assert report2.pop("resumed_stages") == [
        "after_exact_dedup", "after_near_dedup", "after_substring_dedup",
        "after_semantic_dedup", "after_quality", "after_nb_quality",
        "after_decontamination", "after_dsir", "after_bpe", "after_mixing",
        "packed",
    ]
    report.pop("resumed_stages")
    assert report2 == report and report["bpe_vocab_size"] > 1
