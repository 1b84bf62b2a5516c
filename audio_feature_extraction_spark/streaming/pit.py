"""Streaming point-in-time feature serving — the online twin of
``operators/asof.asof_join`` / ``asof_join_multi``: one server for
one or more state sources.

The batch as-of join answers "what was the latest state at each probe's
timestamp" over history; the ONLINE feature store answers the same
question as events arrive. One unioned stream (state rows + probe rows)
grouped by entity runs through ``applyInPandasWithState``:

* state = per source, the latest (value, ts, seq) seen for the entity —
  exactly the carry the batch window computes, held in the state store;
* each probe row is served from every source's carried state and
  emitted immediately (append mode); a one-source caller tags with
  ``{"value": filter}`` and reads ``asof_value`` / ``asof_value_ts``;
* null-valued states are TRANSPARENT (do not advance the carry), the
  TTL nulls out stale serves — both matching ``asof_join``'s contract;
* within a micro-batch rows apply in (ts, tag, seq) order (state before
  probe at equal ts), so replaying history through the stream in order
  reproduces the batch join row-for-row (tested).

Late-data policy (T9): a state row older than the already-carried one
cannot retroactively re-serve probes that were already emitted (the
online analog of the batch join's leakage refusal; use the batch join
for backfills) — it can only refine the PREV slot of the two-deep
carry. A late PROBE — one arriving in a later micro-batch than a
newer-timestamped state — is NEVER served that future state (temporal
leakage relative to the batch join; ADVICE r03): it falls back to the
prev-slot state if that one is genuinely earlier, else null. The
invariants that hold under ARBITRARY arrival disorder
(property-tested with shuffled chunk->trigger permutations):

* zero leakage — a served ``asof_<source>_ts`` is never later than the
  probe's (strictly earlier in strict mode);
* serve integrity — a non-null serve is always a real (value, ts) state
  of that entity, within the TTL when one is set;
* in-order replay reproduces the batch ``asof_join`` row-for-row
  (inclusive, strict, and TTL modes).

Scale shape: state is ONE small row per entity (a last + prev carry
per source) in the state store; the shuffle is the same
entity-hash exchange the batch join does once per batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_NO_TS = -(2**63)  # "no state" sentinel outside any real unix_micros


def tag_pit_stream(
    events: DataFrame,
    probe_filter: str,
    source_filters: dict[str, str],
    entity: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "event_id",
) -> DataFrame:
    """Tag an event stream for :func:`stream_pit_serve`: probes get tag
    1; each source's states get tag 0 with their source index in ``src``
    (dict order)."""
    src = F.lit(None).cast("int")
    for i, (name, flt) in enumerate(source_filters.items()):
        src = F.when(F.expr(flt), F.lit(i)).otherwise(src)
    return events.select(
        F.col(entity).cast("long").alias("user_id"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.when(F.expr(probe_filter), F.lit(1))
        .when(src.isNotNull(), F.lit(0))
        .alias("tag"),
        src.alias("src"),
        F.col(seq_col).cast("long").alias("event_id"),
        F.col(value_col).cast("double").alias("v"),
    ).where(F.col("tag").isNotNull())


def stream_pit_serve(
    tagged: DataFrame,
    sources: list[str],
    max_staleness_seconds: float | None = None,
    strict: bool = False,
) -> DataFrame:
    """Online twin of ``asof_join_multi``: each probe is served the
    latest non-null state from EVERY source, from one state row per
    entity holding parallel per-source (last, prev) carries — still the
    minimum state the problem allows. Per source: null transparency,
    TTL, strict equal-ts exclusion via the prev slot, late states refine
    prev but never re-serve the past, late probes fall back to prev or
    null (zero leakage). The carry is ``asof_join_range``'s boundary
    carry: ``last`` = max-(ts, seq) accepted state, ``prev`` = best
    known state with ts strictly earlier than ``last``'s."""
    n_src = len(sources)
    ttl_us = (
        int(max_staleness_seconds * 1_000_000)
        if max_staleness_seconds is not None
        else None
    )
    out_schema = "user_id long, event_id long, ts timestamp, " + ", ".join(
        f"asof_{s} double, asof_{s}_ts timestamp" for s in sources
    )
    state_schema = (
        "vs array<double>, tss array<long>, seqs array<long>, "
        "pvs array<double>, ptss array<long>, pseqs array<long>"
    )
    cols = ["user_id", "event_id", "ts"]
    for s in sources:
        cols += [f"asof_{s}", f"asof_{s}_ts"]

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            vs, tss, seqs, pvs, ptss, pseqs = (list(x) for x in state.get)
        else:
            vs, tss, seqs = [None] * n_src, [_NO_TS] * n_src, [-1] * n_src
            pvs, ptss, pseqs = [None] * n_src, [_NO_TS] * n_src, [-1] * n_src
        out = []
        any_state = False
        chunks = [pdf for pdf in pdfs if len(pdf)]
        whole_list = (
            [pd.concat(chunks, ignore_index=True)] if len(chunks) > 1 else chunks
        )
        for pdf in whole_list:
            pdf = pdf.sort_values(["ts", "tag", "event_id"])
            for row in pdf.itertuples(index=False):
                ts_us = row.ts.value // 1000
                if row.tag == 0:
                    i = int(row.src)
                    if row.v is None or pd.isna(row.v):
                        continue
                    seq = int(row.event_id)
                    if tss[i] == _NO_TS or (ts_us, seq) >= (tss[i], seqs[i]):
                        if tss[i] != _NO_TS and tss[i] < ts_us:
                            pvs[i], ptss[i], pseqs[i] = vs[i], tss[i], seqs[i]
                        vs[i], tss[i], seqs[i] = float(row.v), ts_us, seq
                    elif ts_us < tss[i] and (
                        ptss[i] == _NO_TS
                        or (ts_us, seq) > (ptss[i], pseqs[i])
                    ):
                        pvs[i], ptss[i], pseqs[i] = float(row.v), ts_us, seq
                    any_state = True
                else:
                    rec = [key[0], int(row.event_id), row.ts]
                    for i in range(n_src):
                        def _ok(t):
                            # explicit sentinel, not a sign test —
                            # pre-epoch states are real (ADVICE r04)
                            return t != _NO_TS and (
                                t < ts_us if strict else t <= ts_us
                            )

                        if _ok(tss[i]):
                            v, t = vs[i], tss[i]
                        elif _ok(ptss[i]):
                            v, t = pvs[i], ptss[i]
                        else:
                            v, t = None, None
                        if v is not None and ttl_us is not None and (
                            ts_us - t > ttl_us
                        ):
                            v, t = None, None
                        rec += [
                            v,
                            pd.Timestamp(t * 1000, unit="ns")
                            if t is not None
                            else pd.NaT,
                        ]
                    out.append(tuple(rec))
        if any_state or state.exists:
            state.update((vs, tss, seqs, pvs, ptss, pseqs))
        if out:
            yield pd.DataFrame(out, columns=cols)

    return tagged.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
