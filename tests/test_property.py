"""Property-based tests (hypothesis) — the kernel against the naive
oracle across randomized shapes, plus streaming-recurrence equivalence.

Kernel-level (no Spark session): hundreds of examples per run.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings, strategies as st

from audio_feature_extraction_spark.core.config import FrameSpec
from audio_feature_extraction_spark.operators.framing import featurize_batch
from audio_feature_extraction_spark.streaming.stream import _emit_frames

from tests import oracle

specs = st.sampled_from(
    [FrameSpec(16, 8), FrameSpec(16, 16), FrameSpec(16, 4), FrameSpec(5, 3),
     FrameSpec(2, 1), FrameSpec(7, 7)]
)
token_arrays = st.lists(
    st.lists(st.integers(min_value=0, max_value=32767), min_size=0, max_size=80),
    min_size=1,
    max_size=6,
)


@settings(max_examples=150, deadline=None)
@given(docs=token_arrays, spec=specs)
def test_kernel_matches_naive_oracle(docs, spec):
    ids = np.array([f"d{i}" for i in range(len(docs))], dtype=object)
    values = np.asarray([t for d in docs for t in d], dtype=np.int32)
    offsets = np.concatenate([[0], np.cumsum([len(d) for d in docs])])
    out = featurize_batch(pa.array(ids), values, offsets, spec).to_pandas()
    got = {}
    for _, row in out.iterrows():
        got.setdefault(row["doc_id"], []).append(row)
    for i, d in enumerate(docs):
        exp = oracle.frame_features(d, spec.frame_len, spec.hop)
        rows = sorted(got.get(f"d{i}", []), key=lambda r: r["frame_id"])
        assert len(rows) == len(exp)
        for r, e in zip(rows, exp):
            assert list(r["frame_tokens"]) == e["frame_tokens"]
            np.testing.assert_allclose(
                list(r["features"]), e["features"], rtol=1e-12
            )
            np.testing.assert_allclose(r["stat_mean"], e["stats"]["mean"], rtol=1e-12)
            np.testing.assert_allclose(r["stat_std"], e["stats"]["std"], rtol=1e-9)
            assert r["stat_min"] == e["stats"]["min"]
            assert r["stat_max"] == e["stats"]["max"]


@settings(max_examples=150, deadline=None)
@given(
    tokens=st.lists(st.integers(0, 32767), min_size=1, max_size=120),
    spec=specs,
    chunks=st.lists(st.integers(1, 17), min_size=1, max_size=8),
)
def test_streaming_recurrence_equals_batch(tokens, spec, chunks):
    """Feeding arbitrary chunk splits through the stateful recurrence and
    flushing yields exactly the batch frame grid."""
    pos, tail, nf = 0, [], 0
    emitted = []
    i = 0
    for c in chunks:
        if i >= len(tokens):
            break
        buf = tail + tokens[i : i + c]
        i += c
        frames, pos, tail, nf = _emit_frames(buf, pos, nf, spec, flush=False)
        emitted.extend(frames)
    # feed remainder + flush
    buf = tail + tokens[i:]
    frames, _, _, _ = _emit_frames(buf, pos, nf, spec, flush=True)
    emitted.extend(frames)
    exp = oracle.frames(tokens, spec.frame_len, spec.hop)
    assert [f for _, f in sorted(emitted)] == exp


@settings(max_examples=150, deadline=None)
@given(
    tokens=st.lists(st.integers(0, 32767), min_size=1, max_size=120), spec=specs
)
def test_roundtrip_property(tokens, spec):
    frs = oracle.frames(tokens, spec.frame_len, spec.hop)
    assert oracle.reconstruct(frs, spec.frame_len, spec.hop) == tokens


# ---------------------------------------------------------------------------
# as-of join family: window variant == bucketed variant == DuckDB ASOF JOIN
# on randomized event streams, across all strict x TTL mode combinations
# (VERDICT r03 #4 — the variants' equivalence is the load-bearing claim)
# ---------------------------------------------------------------------------

import datetime as _dt

_T0 = _dt.datetime(2026, 1, 1)


@st.composite
def _asof_scenarios(draw):
    """Random event stream with the hostile shapes: null-valued states,
    duplicate timestamps (state/state and state/probe), hot entities,
    probes before any state, plus the strict/TTL toggles and a bucket
    width that forces multi-bucket carries."""
    n_entities = draw(st.integers(1, 3))
    hot = draw(st.integers(0, n_entities - 1))
    entity_pool = [hot, hot] + list(range(n_entities))  # bias to hot
    n = draw(st.integers(1, 22))
    events = []
    for seq in range(n):
        e = draw(st.sampled_from(entity_pool))
        ts = draw(st.integers(0, 48))  # dense -> duplicate timestamps
        is_probe = draw(st.booleans())
        if is_probe or draw(st.integers(0, 3)) == 0:
            v = None  # probes carry no value; 1/4 of states are null
        else:
            v = float(draw(st.integers(-5, 5)))
        events.append((e, ts, is_probe, v, seq))
    strict = draw(st.booleans())
    ttl = draw(st.sampled_from([None, 7.0, 1000.0]))
    bucket = draw(st.sampled_from([7.0, 16.0, 1000.0]))
    return events, strict, ttl, bucket


@settings(max_examples=30, deadline=None)
@given(scenario=_asof_scenarios())
def test_asof_window_bucketed_duckdb_equivalence(spark, scenario):
    import duckdb
    import pandas as pd

    from audio_feature_extraction_spark.operators import asof

    events, strict, ttl, bucket = scenario
    rows = [
        (e, _T0 + _dt.timedelta(seconds=ts), is_probe, v, seq)
        for (e, ts, is_probe, v, seq) in events
    ]
    schema = ("user_id long, ts timestamp, is_probe boolean, "
              "value double, event_id long")
    df = spark.createDataFrame(rows, schema)
    probes = df.where("is_probe").select("user_id", "ts", "event_id")
    states = df.where("not is_probe").select(
        "user_id", "ts", "value", "event_id"
    )

    def collect(out):
        return {
            r.event_id: (r.asof_value, r.asof_ts) for r in out.collect()
        }

    win = collect(
        asof.asof_join(probes, states, strict=strict,
                       max_staleness_seconds=ttl)
    )
    buck = collect(
        asof.asof_join_bucketed(probes, states, bucket, strict=strict,
                                max_staleness_seconds=ttl)
    )
    # range-partitioned sort-merge, few partitions so entity runs SPAN
    # boundaries (exercises the two-pass carry + strict/tie handling)
    rng = collect(
        asof.asof_join_range(probes, states, strict=strict,
                             max_staleness_seconds=ttl, num_partitions=3)
    )

    # DuckDB native ASOF oracle (strict -> '>' ordering condition);
    # engine-side extras applied the same way the engine defines them:
    # null states dropped (transparency), max-seq tie-break at equal ts,
    # TTL nulling post-join
    con = duckdb.connect()
    con.register("pr_raw", pd.DataFrame(
        [(r[0], r[1], r[4]) for r in rows if r[2]],
        columns=["e", "ts", "seq"],
    ))
    con.register("st_raw", pd.DataFrame(
        [(r[0], r[1], r[3], r[4]) for r in rows if not r[2]],
        columns=["e", "ts", "v", "seq"],
    ))
    op = ">" if strict else ">="
    duck = {}
    for e, seq, ts, av, ats in con.execute(
        f"WITH st AS (SELECT e, ts, v, seq, row_number() OVER "
        f"(PARTITION BY e, ts ORDER BY seq DESC) rn FROM st_raw "
        f"WHERE v IS NOT NULL), "
        f"std AS (SELECT e, ts, v FROM st WHERE rn = 1) "
        f"SELECT pr_raw.e, pr_raw.seq, pr_raw.ts, std.v, std.ts "
        f"FROM pr_raw ASOF LEFT JOIN std "
        f"ON pr_raw.e = std.e AND pr_raw.ts {op} std.ts"
    ).fetchall():
        if av is not None and ttl is not None and (
            (ts - ats).total_seconds() > ttl
        ):
            av, ats = None, None
        duck[seq] = (av, ats)

    assert win == buck == rng == duck


# ---------------------------------------------------------------------------
# connected components: Spark label propagation == DuckDB recursive CTE
# == pure-python union-find, on random duplicate graphs
# ---------------------------------------------------------------------------

_cc_edges = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=25,
)


@settings(max_examples=25, deadline=None)
@given(edges=_cc_edges)
def test_connected_components_matches_recursive_oracle(spark, edges):
    import duckdb
    import pandas as pd

    from audio_feature_extraction_spark.operators import dedup

    rows = [(f"d{a:02d}", f"d{b:02d}") for a, b in edges]
    pairs = spark.createDataFrame(rows, "doc_a string, doc_b string")
    real = {(a, b) for a, b in rows if a != b}
    if not real:
        # all self-loops: the operator defines the node set from real
        # edges only, so there is nothing to label
        assert dedup.connected_components(pairs).count() == 0
        return

    got = {
        r.doc_id: r.comp for r in dedup.connected_components(pairs).collect()
    }

    # witness 1: DuckDB recursive transitive closure + min label (the
    # same shape the driver oracle uses for the ngram_jaccard contract
    # row, minus the jaccard front-end)
    con = duckdb.connect()
    con.register(
        "jac",
        pd.DataFrame(list(real), columns=["doc_a", "doc_b"]).assign(
            jaccard=1.0
        ),
    )
    duck = dict(
        con.execute(
            "WITH RECURSIVE "
            + dedup.components_oracle_sql(0.5)
            + " SELECT id, comp FROM comp"
        ).fetchall()
    )

    # witness 2: union-find
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    uf_groups: dict[str, list[str]] = {}
    for n in parent:
        uf_groups.setdefault(find(n), []).append(n)
    uf = {n: min(g) for g in uf_groups.values() for n in g}

    assert got == duck == uf


# ---------------------------------------------------------------------------
# substring span dedup: Spark == brute-force python on random corpora
# ---------------------------------------------------------------------------

_span_docs = st.lists(
    st.lists(st.integers(0, 3), min_size=0, max_size=24),
    min_size=1,
    max_size=6,
)


@settings(max_examples=25, deadline=None)
@given(docs=_span_docs, k=st.sampled_from([2, 3, 4]))
def test_duplicate_spans_match_bruteforce(spark, docs, k):
    from collections import Counter

    from audio_feature_extraction_spark.operators import dedup

    rows = [(f"d{i}", toks, len(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int"
    )

    counts: Counter = Counter()
    for _, toks, n in rows:
        for p in range(n - k + 1):
            counts[tuple(toks[p : p + k])] += 1
    expect: dict[str, list[tuple[int, int]]] = {}
    covered: dict[str, set[int]] = {}
    for d, toks, n in rows:
        hits = [
            p
            for p in range(n - k + 1)
            if counts[tuple(toks[p : p + k])] >= 2
        ]
        spans: list[list[int]] = []
        for p in hits:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + k)
            else:
                spans.append([p, p + k])
        if spans:
            expect[d] = [(s, e) for s, e in spans]
        covered[d] = {i for s, e in spans for i in range(s, e)}

    got: dict[str, list[tuple[int, int]]] = {}
    spans_df = dedup.duplicate_gram_spans(df, k=k)
    for r in spans_df.collect():
        got.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for v in got.values():
        v.sort()
    assert got == expect

    stripped = {
        r.doc_id: r.tokens_clean
        for r in dedup.strip_duplicate_spans(df, spans=spans_df).collect()
    }
    for d, toks, n in rows:
        assert stripped[d] == [
            t for i, t in enumerate(toks) if i not in covered[d]
        ]


# ---------------------------------------------------------------------------
# sessionize + backfill: Spark window chain == DuckDB, random event streams
# (duplicate timestamps, null values, hot entities)
# ---------------------------------------------------------------------------

@st.composite
def _event_streams(draw):
    n = draw(st.integers(2, 28))
    events = []
    for seq in range(n):
        events.append(
            (
                draw(st.integers(0, 2)),                      # entity (hot)
                draw(st.integers(0, 5000)),                   # ts seconds
                draw(st.one_of(st.none(), st.integers(0, 99))),  # value
                seq,                                          # event_id
            )
        )
    gap = draw(st.sampled_from([60, 600, 1800]))
    return events, gap


@settings(max_examples=25, deadline=None)
@given(scenario=_event_streams())
def test_sessionize_backfill_match_duckdb(spark, scenario):
    import duckdb
    import pandas as pd

    from audio_feature_extraction_spark.operators import sessionize, temporal

    events, gap = scenario
    rows = [
        (e, _T0 + _dt.timedelta(seconds=ts), float(v) if v is not None else None, seq)
        for (e, ts, v, seq) in events
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long"
    )

    got_sess = {
        r.event_id: r.session_id
        for r in sessionize.sessionize(df, float(gap)).collect()
    }
    got_fill = {
        r.event_id: r.filled
        for r in temporal.backfill(df, value_col="value").collect()
    }

    con = duckdb.connect()
    con.register(
        "ev",
        pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"]),
    )
    duck_sess = dict(
        con.execute(
            f"SELECT event_id, CAST(sum(f) OVER (PARTITION BY user_id "
            f"ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
            f"CURRENT ROW) AS BIGINT) FROM (SELECT event_id, user_id, ts, "
            f"CASE WHEN lag(ts) OVER w IS NOT NULL AND "
            f"epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap * 1_000_000} "
            f"THEN 1 ELSE 0 END AS f FROM ev "
            f"WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) _q"
        ).fetchall()
    )
    duck_fill = dict(
        con.execute(
            "SELECT event_id, last_value(value IGNORE NULLS) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM ev"
        ).fetchall()
    )
    assert got_sess == duck_sess
    assert got_fill == duck_fill


# ---------------------------------------------------------------------------
# out-of-order streaming PIT replay (VERDICT r04 #3)
# ---------------------------------------------------------------------------

_pit_run_counter = [0]


@st.composite
def _pit_disorder_scenarios(draw):
    """Random event stream plus an ARBITRARY chunk->trigger assignment:
    events land in any of 3 micro-batches regardless of event time, so
    states arrive late, probes arrive late, and groups split across
    triggers. strict/TTL toggles included."""
    n_entities = draw(st.integers(1, 2))
    n = draw(st.integers(3, 12))
    events = []
    for seq in range(n):
        e = draw(st.integers(0, n_entities - 1))
        ts = draw(st.integers(0, 30))
        is_probe = draw(st.booleans())
        v = (
            None
            if is_probe or draw(st.integers(0, 3)) == 0
            else float(draw(st.integers(-5, 5)))
        )
        trig = draw(st.integers(0, 2))
        events.append((e, ts, is_probe, v, seq, trig))
    strict = draw(st.booleans())
    ttl = draw(st.sampled_from([None, 9.0]))
    return events, strict, ttl


@settings(max_examples=10, deadline=None)
@given(scenario=_pit_disorder_scenarios())
def test_stream_pit_disorder_no_leakage_and_integrity(spark, scenario):
    """Replaying the SAME events with shuffled chunk->trigger assignment
    must uphold the online contract row-by-row:

    * every probe is served exactly once;
    * zero leakage — a non-null serve's asof_ts is never later than the
      probe's ts (strictly earlier in strict mode);
    * serve integrity — a non-null (value, ts) is a REAL state of that
      entity, within the TTL when one is set;
    * when the drawn assignment happens to respect per-entity event-time
      order, the serves equal the batch as-of join exactly.
    """
    import shutil
    import tempfile

    from audio_feature_extraction_spark.operators import asof
    from audio_feature_extraction_spark.streaming import pit

    events, strict, ttl = scenario
    rows = [
        (seq, _T0 + _dt.timedelta(seconds=ts), e, "view" if is_probe else "click",
         v, trig)
        for (e, ts, is_probe, v, seq, trig) in events
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    workdir = tempfile.mkdtemp(prefix="pit_disorder_")
    _pit_run_counter[0] += 1
    qname = f"pit_disorder_{_pit_run_counter[0]}"
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        src = f"{workdir}/ev"
        events_stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        tagged = pit.tag_pit_stream(
            events_stream, "event_type = 'view'",
            {"value": "event_type = 'click'"},
        )
        served = pit.stream_pit_serve(
            tagged, ["value"], max_staleness_seconds=ttl, strict=strict
        )
        q = (
            served.writeStream.format("memory")
            .queryName(qname)
            .option("checkpointLocation", f"{workdir}/ck")
            .outputMode("append")
            .start()
        )
        try:
            for trig in range(3):
                chunk = [r[:5] for r in rows if r[5] == trig]
                if not chunk:
                    continue
                spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
                    f"{src}/b{trig}"
                )
                q.processAllAvailable()
            got = {
                r.event_id: (r.asof_value, r.asof_value_ts)
                for r in spark.sql(f"select * from {qname}").collect()
            }
        finally:
            q.stop()
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
        shutil.rmtree(workdir, ignore_errors=True)

    probes = {seq: (e, ts) for (e, ts, is_probe, _v, seq, _t) in events if is_probe}
    states = {}
    for (e, ts, is_probe, v, _seq, _t) in events:
        if not is_probe and v is not None:
            states.setdefault(e, set()).add(
                (v, _T0 + _dt.timedelta(seconds=ts))
            )

    # every probe served exactly once
    assert set(got) == set(probes)
    for seq, (v, ats) in got.items():
        e, ts = probes[seq]
        pts = _T0 + _dt.timedelta(seconds=ts)
        if v is not None:
            assert ats is not None
            # zero temporal leakage, under ANY disorder
            assert ats < pts if strict else ats <= pts
            # serve integrity: a real state of this entity
            assert (v, ats) in states.get(e, set())
            if ttl is not None:
                assert (pts - ats).total_seconds() <= ttl

    # in-order assignments must reproduce the batch join exactly
    def key(r):
        # (ts, tag, seq): states sort before probes at equal ts
        return (r[1], 0 if r[3] == "click" else 1, r[0])

    def rows_of(ent):
        return [r for r in rows if r[2] == ent]

    inorder = True
    for ent in {r[2] for r in rows}:
        ers = sorted(rows_of(ent), key=key)
        trigs = [r[5] for r in ers]
        if any(a > b for a, b in zip(trigs, trigs[1:])):
            inorder = False
    if inorder:
        all_ev = spark.createDataFrame([r[:5] for r in rows], schema)
        expect = {
            r.event_id: (r.asof_value, r.asof_ts)
            for r in asof.asof_join(
                all_ev.where("event_type = 'view'"),
                all_ev.where("event_type = 'click'"),
                strict=strict,
                max_staleness_seconds=ttl,
            ).collect()
        }
        assert got == expect


# ---------------------------------------------------------------------------
# SemDeDup dominance pairs == pure-python witness on random embeddings
# ---------------------------------------------------------------------------

_sd_embs = st.lists(
    st.lists(st.integers(-3, 3), min_size=4, max_size=4),
    min_size=2,
    max_size=14,
)


def _py_cos(a, b):
    """Sequential left-fold cosine — the engines' exact fold order."""
    import math

    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    return dot / (math.sqrt(na) * math.sqrt(nb))


@settings(max_examples=20, deadline=None)
@given(embs=_sd_embs, use_kernel=st.booleans())
def test_semdedup_matches_python_witness(spark, embs, use_kernel):
    from audio_feature_extraction_spark.operators import similarity

    # no zero vectors (cosine undefined); keep values integral so every
    # distance/cosine is an exact small rational in double
    embs = [e if any(e) else [1] + e[1:] for e in embs]
    n_clusters, threshold = 3, 0.5
    rows = [(i, [float(x) for x in e]) for i, e in enumerate(embs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.id_b: (r.id_a, r.cosine)
        for r in similarity.semdedup_pairs(
            emb,
            threshold=threshold,
            n_clusters=n_clusters,
            use_kernel=use_kernel,
            score_kernel=use_kernel,
        ).collect()
    }

    # witness: assign to nearest of the first-n_clusters vectors
    # (sequential-fold sqdist, ties -> lowest centroid id), then
    # dominance with the same fold-order cosine
    cents = [(i, e) for i, e in enumerate(embs) if i < n_clusters]

    def sqd(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (float(x) - float(y)) ** 2
        return s

    cl = [min(cents, key=lambda c: (sqd(e, c[1]), c[0]))[0] for e in embs]
    want = {}
    for i in range(len(embs)):
        for j in range(i + 1, len(embs)):
            if cl[i] != cl[j] or j in want:
                continue
            if _py_cos(embs[i], embs[j]) >= threshold:
                want[j] = i
    assert {b: a for b, (a, _) in got.items()} == want
    for b, (a, cos) in got.items():
        assert cos == _py_cos(embs[a], embs[b])


# ---------------------------------------------------------------------------
# NB quality == pure-python witness on random corpora
# ---------------------------------------------------------------------------

# negative token ids exercise the pmod bucket hardening (python % is
# already a pmod, so the witness needs no change)
_nb_corpora = st.lists(
    st.lists(st.integers(-32768, 32767), min_size=0, max_size=40),
    min_size=1,
    max_size=16,
)


@settings(max_examples=15, deadline=None)
@given(seqs=_nb_corpora)
# r05 falsifier: train split with only empty token arrays must yield the
# smoothed prior (ln 3), not NULL-poisoned weights and predicted=0
@example(seqs=[[], [], [0]])
def test_nb_quality_matches_python_witness_property(spark, seqs):
    from audio_feature_extraction_spark.operators import textstats
    from tests.test_dedup_similarity import _np_nb_quality

    rows = [(f"doc_{i}", t, len(t), "web") for i, t in enumerate(seqs)]
    ts = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    got = {
        r.doc_id: (r.weak_label, r.nb_score_micro, r.predicted)
        for r in textstats.nb_quality(ts).collect()
    }
    want = _np_nb_quality([(f"doc_{i}", t) for i, t in enumerate(seqs)])
    assert got == want


# ---------------------------------------------------------------------------
# reproducible log property (round 5)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    a=st.integers(min_value=1, max_value=10**14),
    ratio=st.fractions(min_value=0, max_value=1),
)
def test_ln_ratio_python_twin_property(a, ratio):
    """The documented closed form (python) IS the SQL's value — checked
    bit-for-bit via the python twin against math.log accuracy bounds:
    exponent via bit_length, mantissa atanh Horner, pinned order."""
    import math

    from audio_feature_extraction_spark.functions.reproducible import (
        _ATANH_COEFFS,
        _LN2,
    )

    b = max(1, int(a * ratio))
    e = (a // b).bit_length() - 1
    m = (a / b) / float(1 << e)
    z = (m - 1.0) / (m + 1.0)
    z2 = z * z
    horner = _ATANH_COEFFS[-1]
    for c in reversed(_ATANH_COEFFS[:-1]):
        horner = c + z2 * horner
    got = float(e) * _LN2 + (2.0 * z) * horner
    true = math.log(a / b)
    assert abs(got - true) <= max(abs(true), 1.0) * 5e-9
