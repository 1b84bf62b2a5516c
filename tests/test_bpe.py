"""BPE trainer/encoder: hand-worked classics, an independent witness,
round-trip and invariants, and the SQL pair-count twin.

The merge loop is sequential-by-nature (not SQL-expressible), so its
correctness evidence is (a) the Sennrich worked example, (b) a
from-scratch witness implementation written in a different style
(Counter over the raw token stream, list-of-lists corpus) that must
produce identical merges AND identical encodings on random corpora,
and (c) the BPE self-consistency invariant: encoding a training word
with the trained ranks reproduces the training-time segmentation.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import duckdb
import pytest

from audio_feature_extraction_spark.operators import bpe

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


# -- independent witness (different data layout on purpose) -----------------


def _witness_train(texts, n_merges):
    corpus = [list(w) for t in texts for w in t.split() if w]
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w in corpus:
            for i in range(len(w) - 1):
                pairs[(w[i], w[i + 1])] += 1
        if not pairs:
            break
        best_n = max(pairs.values())
        best = min(p for p, n in pairs.items() if n == best_n)
        merges.append(best)
        new_corpus = []
        for w in corpus:
            out, i = [], 0
            while i < len(w):
                if i + 1 < len(w) and (w[i], w[i + 1]) == best:
                    out.append(w[i] + w[i + 1])
                    i += 2
                else:
                    out.append(w[i])
                    i += 1
            new_corpus.append(out)
        corpus = new_corpus
    return merges, corpus


def test_sennrich_classic(spark):
    """The canonical worked example: with 'newest' dominant, BPE learns
    es -> est first (e,s then es,t), and 'lowest' segments as low|est
    once 'low' merges exist."""
    texts = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    m = bpe.train_bpe(_docs(spark, texts), n_merges=4)
    assert m.merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]
    assert m.encode_word("newest") == ["n", "e", "w", "est"]
    assert m.encode_word("lowest") == ["low", "est"]
    # with more budget the dominant word collapses to one token
    m10 = bpe.train_bpe(_docs(spark, texts), n_merges=10)
    assert m10.encode_word("newest") == ["newest"]
    assert m10.encode_word("lowest") == ["low", "est"]


def test_matches_independent_witness(spark):
    rng = random.Random(20260817)
    for trial in range(4):
        n_words = rng.randrange(5, 25)
        alphabet = "abcdef"
        vocab_words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 8)))
            for _ in range(n_words)
        ]
        texts = [
            " ".join(rng.choice(vocab_words) for _ in range(rng.randrange(1, 30)))
            for _ in range(10)
        ]
        n_merges = rng.randrange(1, 30)
        m = bpe.train_bpe(_docs(spark, texts), n_merges=n_merges)
        wm, _ = _witness_train(texts, n_merges)
        assert m.merges == wm, f"trial {trial}: merge sequences diverge"


def test_histogram_vs_stream_equivalence(spark):
    """The trainer works on the (word, count) histogram; the witness on
    the raw word stream — pair counts weighted by word frequency must
    make them identical (this is the property that makes the one-shuffle
    histogram the correct 100 TB shape)."""
    texts = ["aa ab aa ab aa", "ab aa b aab aab"]
    m = bpe.train_bpe(_docs(spark, texts), n_merges=5)
    wm, _ = _witness_train(texts, 5)
    assert m.merges == wm


def test_encode_reproduces_training_segmentation(spark):
    rng = random.Random(7)
    vocab_words = [
        "".join(rng.choice("abcd") for _ in range(rng.randrange(2, 9)))
        for _ in range(15)
    ]
    texts = [" ".join(rng.choice(vocab_words) for _ in range(20)) for _ in range(6)]
    n_merges = 25
    m = bpe.train_bpe(_docs(spark, texts), n_merges=n_merges)
    _, final_corpus = _witness_train(texts, n_merges)
    stream_words = [w for t in texts for w in t.split() if w]
    for word, segmented in zip(stream_words, final_corpus):
        assert m.encode_word(word) == segmented, word


def test_roundtrip_and_unk(spark):
    texts = ["abc abd abe", "abc abc xyx"]
    m = bpe.train_bpe(_docs(spark, texts), n_merges=8)
    rng = random.Random(3)
    for _ in range(50):
        w = "".join(rng.choice("abcdexy") for _ in range(rng.randrange(1, 12)))
        assert m.decode_tokens(m.encode_word(w)) == w
    # char outside the training alphabet -> UNK id, never a crash
    ids = m.encode_word_ids("abQ")
    assert bpe.UNK_ID in ids


def test_vocab_ids_deterministic(spark):
    texts = ["hello world hello", "world of words"]
    m1 = bpe.train_bpe(_docs(spark, texts), n_merges=12)
    m2 = bpe.train_bpe(_docs(spark, texts), n_merges=12)
    assert m1.merges == m2.merges and m1.vocab == m2.vocab
    # alphabet ids before merge ids, code-point order
    alpha_ids = [m1.vocab[c] for c in m1.alphabet]
    assert alpha_ids == sorted(alpha_ids)
    assert min(m1.vocab.values()) == 1  # 0 reserved for UNK


def test_max_words_accounting(spark):
    texts = ["aaa " * 10 + "bbb " * 5 + "ccc " * 2 + "ddd"]
    m = bpe.train_bpe(_docs(spark, texts), n_merges=3, max_words=2)
    assert m.dropped_words == 2          # ccc, ddd
    assert m.dropped_occurrences == 3    # 2 + 1


def test_distributed_encode_matches_model(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m = bpe.train_bpe(docs, n_merges=40)
    got = {r.doc_id: (list(r.bpe_ids), r.n_bpe)
           for r in bpe.bpe_encode(docs, m).collect()}
    sample = docs.orderBy("doc_id").limit(20).collect()
    for r in sample:
        want = [i for w in r.text.split(" ") if w for i in m.encode_word_ids(w)]
        assert got[r.doc_id] == (want, len(want)), r.doc_id
    # merges/vocab DataFrames round-trip the model
    rows = [(r.rank, r.left, r.right) for r in m.merges_df(spark).collect()]
    m2 = bpe.BpeModel.from_merges_rows(rows, m.alphabet)
    assert m2.merges == m.merges and m2.vocab == m.vocab


def test_pair_counts_spark_duckdb_parity(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted((r.t1, r.t2, r.freq) for r in bpe.pair_counts(docs).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(bpe.pair_counts_sql(False)).fetchall())
    assert got == want
    # first trained merge == argmax of the pair table (count desc, pair asc)
    m = bpe.train_bpe(docs, n_merges=1)
    best = min(((t1, t2) for t1, t2, f in got
                if f == max(f2 for _, _, f2 in got)))
    assert (ord(m.merges[0][0]), ord(m.merges[0][1])) == best


def test_cli_tokenize(tmp_path):
    """Real process, real CLI — train + encode + artifact parquet, and
    the written artifacts reconstruct a model that re-encodes a sample
    doc identically."""
    import json
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "audio_feature_extraction_spark.cli",
         "tokenize", "--input", "/root/testdata/sf0.001",
         "--output", str(tmp_path / "bpe"), "--merges", "40"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-500:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["merges"] == 40 and rep["encoded_tokens"] > 0
    import duckdb
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*), sum(n_bpe) FROM '{tmp_path}/bpe/tokens/*.parquet'"
    ).fetchone()
    assert n[0] == 500 and n[1] == rep["encoded_tokens"]
    mrows = con.execute(
        f'SELECT rank, "left", "right" FROM '
        f"'{tmp_path}/bpe/merges/*.parquet' ORDER BY rank"
    ).fetchall()
    assert len(mrows) == 40
