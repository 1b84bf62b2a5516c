"""The four benchmark workloads.

Each workload writes its seeded inputs (``generate``: pure numpy/pyarrow,
repeatable), turns them into the tables the program reads (``prepare``:
Spark work that a real deployment also does once), checks a slice of its
output against an independent formulation (``reference_check``) and runs
timed iterations (``iteration``). Every call in an iteration must
reproduce the row count and checksum the first (warm-up) iteration saw.
Sizes are set for a four-core box and a run of about a minute;
README.md in this directory records them and why each workload exists.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time
import traceback

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from checks import Mismatch, checksum, checksum_cols, noop_checksum, same_rows

from audio_feature_extraction_spark.core.config import FrameSpec
from audio_feature_extraction_spark.operators import (
    asof,
    framing,
    inverse,
    sessionize,
    temporal,
)
from audio_feature_extraction_spark.plans import corpus
from audio_feature_extraction_spark.sources.tokens import tokenize_py
from audio_feature_extraction_spark.streaming import stream

SPEC = FrameSpec(frame_len=16, hop=8)
PROBE_FILTER = "event_type = 'view'"
STATE_FILTER = "event_type IN ('click', 'purchase')"


def _duck(sql: str, **views: str):
    """Run DuckDB ``sql`` with each keyword bound as a view."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name, body in views.items():
            con.execute(f"CREATE VIEW {name} AS {body}")
        return con.sql(sql).df()
    finally:
        con.close()


def _scan(path: str, where: str = "true") -> str:
    return f"SELECT * FROM read_parquet('{path}/*.parquet') WHERE {where}"


def _failed(check) -> int:
    """1 if ``check()`` raises (a mismatch or an error), else 0."""
    try:
        check()
    except Exception:  # noqa: BLE001 - a failed check is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        return 1
    return 0


class Workload:
    name = ""
    spans: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, tracer, seconds: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.seconds = tracer, seconds
        self.items = 0  # items one iteration processes
        self.expected: list | None = None  # per-call (rows, checksum)

    def generate(self, out: str) -> None:
        """Write the seeded raw inputs under ``out``."""
        raise NotImplementedError

    def prepare(self, raw: str) -> None:
        """Build the program's input tables from the raw inputs."""
        raise NotImplementedError

    def calls(self) -> list:
        """(span name, thunk) per call of one iteration; a thunk returns
        the call's (rows, checksum)."""
        raise NotImplementedError

    def reference_check(self) -> None:
        """Raise ``Mismatch`` if a slice of the output disagrees with its
        independent formulation."""
        raise NotImplementedError

    def warm_up(self) -> tuple[int, int]:
        """The reference check (on a slice, so the calls' cold first runs
        are cheap), then one full iteration whose per-call row counts and
        checksums every timed call must reproduce. Returns (calls
        attempted, calls failed), the reference check counting as one."""
        failed = _failed(self.reference_check)
        a, f = self.iteration()
        return a + 1, f + failed + self.end_phase()

    def iteration(self) -> tuple[int, int]:
        """Run every call once; return (calls attempted, calls failed)."""
        calls, got = self.calls(), []
        for span, thunk in calls:
            try:
                with self.tracer.span(span):
                    got.append(thunk())
            except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                got.append(None)
        if self.expected is None:
            self.expected = got
        failed = 0
        for (span, _), g, e in zip(calls, got, self.expected):
            if g is None or g != e:
                failed += 1
                print(f"[perfbench] {span}: got {g}, expected {e}", file=sys.stderr)
        return len(got), failed

    def start_phase(self) -> None:
        pass

    def end_phase(self) -> int:
        """Checks deferred to the end of a phase; returns the number of
        calls found failed."""
        return 0

    def latencies_ms(self, walls: list[float]) -> list[float]:
        """Per-unit latencies of a phase: by default the iteration walls."""
        return [w * 1e3 for w in walls]

    def extra_layers(self) -> dict[str, float]:
        """Per-layer figures beyond the spans (names in ``extra_units``)."""
        return {}

    @classmethod
    def extra_units(cls) -> dict[str, str]:
        return {}

    def close(self) -> None:
        pass


class TokenFeatures(Workload):
    """Framing kernels over a pre-tokenized table: dominated by the
    mapInPandas kernel boundary, with at most one exchange."""

    name = "token_features"
    spans = (
        "operators.framing.frame_features",
        "operators.framing.frame_features_compact",
        "operators.inverse.roundtrip_check",
    )
    BASE_DOCS, REPLICAS, FILES = 5_000, 5, 8
    SLICE_IDS = 1_000  # the reference slice: doc ids below this (replica 0)

    def generate(self, out: str) -> None:
        """The token table itself: REPLICAS copies of every doc under new
        ids, tokenized by the package's Python tokenizer."""
        docs, _ = inputs.documents(self.seed, self.BASE_DOCS)
        tokens = [tokenize_py(t) for t in docs["text"].to_pylist()]
        n = self.BASE_DOCS * self.REPLICAS
        table = pa.table(
            {
                "doc_id": [f"doc_{i}" for i in range(n)],
                "tokens": pa.array(tokens * self.REPLICAS, pa.list_(pa.int32())),
                "n_tok": pa.array([len(t) for t in tokens] * self.REPLICAS, pa.int32()),
                "source": docs["source"].to_pylist() * self.REPLICAS,
            }
        )
        inputs.write(table, f"{out}/tokens", self.FILES)

    def prepare(self, raw: str) -> None:
        self.path = f"{raw}/tokens"
        self.tok = self.spark.read.parquet(self.path)
        self.items = self.BASE_DOCS * self.REPLICAS

    def calls(self) -> list:
        tok = self.tok
        return [
            (self.spans[0], lambda: noop_checksum(framing.frame_features(tok, SPEC))),
            (self.spans[1], lambda: noop_checksum(framing.frame_features_compact(tok, SPEC))),
            (
                self.spans[2],
                lambda: noop_checksum(
                    inverse.roundtrip_check(tok, framing.frame_table(tok, SPEC), SPEC)
                ),
            ),
        ]

    def reference_check(self) -> None:
        where = f"CAST(substr(doc_id, 5) AS BIGINT) < {self.SLICE_IDS}"
        sl = self.tok.where(where)
        want = _duck(
            f"WITH frames AS ({framing.frames_oracle_sql(SPEC, 'tokseq')}) "
            f"{framing.frame_features_oracle_sql(SPEC, 'frames')}",
            tokseq=_scan(self.path, where),
        )
        cols = ["doc_id", "frame_id", "frame_tokens", "features", "stats"]
        same_rows("frame_features", framing.frame_features(sl, SPEC).toPandas(), want, cols)
        want["features"] = [f.astype("float32") for f in want["features"]]
        got = framing.frame_features_compact(sl, SPEC).toPandas()
        got["features"] = [f.astype("float32") for f in got["features"]]
        same_rows("frame_features_compact", got, want, ["doc_id", "frame_id", "features"])
        got = inverse.roundtrip_check(sl, framing.frame_table(sl, SPEC), SPEC).toPandas()
        want = _duck("SELECT doc_id, true AS ok FROM tokseq", tokseq=_scan(self.path, where))
        same_rows("roundtrip_check", got, want, ["doc_id", "ok"])


class PitEvents(Workload):
    """Point-in-time operators over a skewed events table: every call
    shuffles and sorts the whole table by entity."""

    name = "pit_events"
    spans = (
        "operators.asof.asof_join",
        "operators.asof.asof_join_auto",
        "operators.sessionize.session_summary",
        "operators.temporal.backfill",
    )
    EVENTS, HOT_SHARE, FILES = 500_000, 1 / 16, 8
    USERS = EVENTS // 67  # sf0.1: 100k events over 1.5k users
    SLICE = "user_id % 64 = 0"  # the hot entity plus 1/64 of the others

    def generate(self, out: str) -> None:
        table = inputs.events(self.seed, self.EVENTS, self.USERS, self.HOT_SHARE)
        inputs.write(table, f"{out}/events", self.FILES)

    def prepare(self, raw: str) -> None:
        self.path = f"{raw}/events"
        self.ev = self.spark.read.parquet(self.path)
        self.items = self.EVENTS

    @staticmethod
    def _plans(ev) -> list:
        """One thunk per call; each builds its plan only when called (the
        skew probe of ``asof_join_auto`` runs at plan-building time)."""
        probes, states = ev.where(PROBE_FILTER), ev.where(STATE_FILTER)
        nulled = ev.withColumn(
            "value", F.when(F.col("event_type") == "view", None).otherwise(F.col("value"))
        )
        return [
            lambda: asof.asof_join(probes, states),
            lambda: asof.asof_join_auto(probes, states),
            lambda: sessionize.session_summary(ev, 1800.0),
            lambda: temporal.backfill(nulled),
        ]

    def calls(self) -> list:
        return [
            (span, lambda plan=plan: noop_checksum(plan()))
            for span, plan in zip(self.spans, self._plans(self.ev))
        ]

    def reference_check(self) -> None:
        events = _scan(self.path, self.SLICE)
        nulled = (
            "SELECT event_id, ts, user_id, event_type, "
            "CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value, props "
            "FROM events"
        )
        asof_sql = asof.asof_oracle_sql(PROBE_FILTER, STATE_FILTER)
        refs = [
            (asof_sql, ["user_id", "event_id", "ts", "asof_value", "asof_ts"]),
            (asof_sql, ["user_id", "event_id", "ts", "asof_value", "asof_ts"]),
            (
                sessionize.session_summary_oracle_sql(1800.0),
                ["user_id", "session_id", "n_events", "session_start", "session_end", "value_sum"],
            ),
            (
                temporal.backfill_oracle_sql(from_clause=f"({nulled})"),
                ["event_id", "ts", "user_id", "event_type", "value", "props", "filled"],
            ),
        ]
        plans = self._plans(self.ev.where(self.SLICE))
        for span, plan, (sql, cols) in zip(self.spans, plans, refs):
            same_rows(span, plan().toPandas(), _duck(sql, events=events), cols)


class CorpusSnapshot(Workload):
    """The prepare-corpus pipeline in snapshot mode with every optional
    stage on: the only workload that writes (each stage commits a
    snapshot) and the only one running dedup, similarity, textstats and
    mixing."""

    name = "corpus_snapshot"
    spans = ("plans.corpus.prepare_corpus",)
    DOCS, NEAR_DUP = 400, 0.2
    # stages the reference run recomputes from the committed earlier ones
    RECOMPUTED = (
        "after_decontamination",
        "after_dsir",
        "after_mixing",
        "packed",
    )

    def generate(self, out: str) -> None:
        docs, dup_of = inputs.documents(self.seed, self.DOCS, self.NEAR_DUP)
        inputs.write(docs, f"{out}/documents.parquet")
        inputs.write(inputs.embeddings(self.seed, dup_of), f"{out}/embeddings.parquet")

    def prepare(self, raw: str) -> None:
        self.raw = raw
        self.items = self.DOCS
        self.runs = 0

    def _config(self, resume_dir: str | None) -> corpus.CorpusConfig:
        return corpus.CorpusConfig(
            accounting=False,
            resume_dir=resume_dir,
            substring_k=8,
            semdedup_threshold=0.9,
            nb_min_score=0,
            dsir_k=self.DOCS // 2,
        )

    def _run(self, resume_dir: str) -> tuple:
        mixed, blocks, _ = corpus.prepare_corpus(self.spark, self.raw, self._config(resume_dir))
        return checksum(mixed), checksum(blocks)

    def _snapshot(self) -> tuple:
        self.runs += 1
        resume = os.path.join(self.work, f"resume-{self.runs}")
        try:
            return self._run(resume)
        finally:
            shutil.rmtree(resume, ignore_errors=True)

    def calls(self) -> list:
        return [(self.spans[0], self._snapshot)]

    def warm_up(self) -> tuple[int, int]:
        """One snapshot-mode call sets the expected outputs; the reference
        is the same pipeline resumed from that call's committed stages with
        the later ones removed, which must land on the same bytes. (Lazy
        mode, one plan and no snapshots, would be the more independent
        reference, but one call takes as long as seven snapshot calls.)"""
        resume = os.path.join(self.work, "resume-warm-up")
        try:
            self.expected = [self._run(resume)]
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            return 1, 1
        return 2, _failed(lambda: self.reference_check(resume))

    def reference_check(self, resume: str) -> None:
        for stage in self.RECOMPUTED:
            shutil.rmtree(os.path.join(resume, f"stage={stage}"))
        resumed = self._run(resume)
        shutil.rmtree(resume)
        if resumed != self.expected[0]:
            raise Mismatch(f"prepare_corpus: resumed {resumed} vs snapshot {self.expected[0]}")


class StreamChunks(Workload):
    """Stateful streaming frame assembly fed one chunk file per trigger:
    the only workload with a state store and micro-batch scheduling."""

    name = "stream_chunks"
    spans = ("streaming.stream.stream_feature_extract",)
    WARMUP_TRIGGERS = 6
    DOCS_PER_FILE, CHUNK = 40, 16
    # per-trigger figures from the query's progress reports: (unit, getter)
    TRIGGER_STATS = {
        "add_batch_ms": ("ms", lambda p: p["durationMs"].get("addBatch", 0)),
        "query_planning_ms": ("ms", lambda p: p["durationMs"].get("queryPlanning", 0)),
        "wal_commit_ms": ("ms", lambda p: p["durationMs"].get("walCommit", 0)),
        "state_commit_ms": ("ms", lambda p: p["stateOperators"][0]["commitTimeMs"]),
        "state_rows": ("count", lambda p: p["stateOperators"][0]["numRowsTotal"]),
        "state_mem_mb": ("MB", lambda p: p["stateOperators"][0]["memoryUsedBytes"] / 1e6),
    }

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # enough files for the warm-up plus a traced run's double-length
        # phase of triggers as short as 0.25 s
        self.n_files = self.WARMUP_TRIGGERS + 8 * self.seconds
        self.query = None

    def generate(self, out: str) -> None:
        """One parquet file of ordered chunks per trigger, DOCS_PER_FILE
        whole docs each, tokenized by the package's Python tokenizer."""
        docs, _ = inputs.documents(self.seed, self.DOCS_PER_FILE * self.n_files)
        self.chunk_dir = f"{out}/chunks"
        os.makedirs(self.chunk_dir)
        self.chunks = {}
        for f in range(self.n_files):
            ids, cids, toks = [], [], []
            for row in range(f * self.DOCS_PER_FILE, (f + 1) * self.DOCS_PER_FILE):
                t = tokenize_py(docs["text"][row].as_py())
                for c in range(0, len(t), self.CHUNK):
                    ids.append(f"doc_{row}")
                    cids.append(c // self.CHUNK)
                    toks.append(t[c : c + self.CHUNK])
            table = pa.table(
                {
                    "doc_id": ids,
                    "chunk_id": pa.array(cids, pa.int32()),
                    "chunk_tokens": pa.array(toks, pa.list_(pa.int32())),
                }
            )
            pq.write_table(table, f"{self.chunk_dir}/{f:05d}.parquet")
            self.chunks[f] = table.num_rows

    def prepare(self, raw: str) -> None:
        self.src = os.path.join(self.work, "in")
        self.out = os.path.join(self.work, "out")
        os.makedirs(self.src)
        src = (
            self.spark.readStream.schema(stream.CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(self.src)
        )
        self.query = stream.stream_feature_extract(
            src, self.out, os.path.join(self.work, "checkpoint"), SPEC
        )
        self.fed = 0
        self.seen: set[int] = set()  # batch ids already attributed
        self.batch_of: dict[int, int] = {}  # unchecked batch id -> file number
        self.progress: list[dict] = []  # the current phase's triggers

    def _reference(self, files: list[int]):
        """Batch twin over the chunks of ``files``: flushed frames minus the
        short tails a stream without a flush timeout never emits,
        featurized by the SQL formulation; ``f`` is each row's file."""
        chunks = self.spark.read.parquet(*[f"{self.chunk_dir}/{f:05d}.parquet" for f in files])
        frames = stream.chunked_frame_features(chunks, SPEC).where(
            F.size("frame_tokens") == SPEC.frame_len
        )
        file_no = (F.substring("doc_id", 5, 12).cast("int") / self.DOCS_PER_FILE).cast("int")
        return framing.featurize_frames_sql(frames, SPEC).withColumn("f", file_no)

    def _feed(self) -> None:
        f = self.fed
        shutil.copy(f"{self.chunk_dir}/{f:05d}.parquet", f"{self.src}/{f:05d}.parquet")
        self.fed += 1
        self.items = self.chunks[f]
        group = str(self.query.runId)  # micro-batches run under the run id
        tracker = self.spark.sparkContext.statusTracker()
        jobs0 = set(tracker.getJobIdsForGroup(group))
        t0 = time.perf_counter()
        self.query.processAllAvailable()
        wall = time.perf_counter() - t0
        for p in self.query.recentProgress:
            if p["numInputRows"] > 0 and p["batchId"] not in self.seen:
                self.seen.add(p["batchId"])
                self.batch_of[p["batchId"]] = f
                self.progress.append(p)
        if self.tracer.enabled:
            jobs = set(tracker.getJobIdsForGroup(group)) - jobs0
            self.tracer.record(self.spans[0], wall, sorted(jobs))

    def calls(self) -> list:
        return [(self.spans[0], self._feed)]

    def iteration(self) -> tuple[int, int]:
        if self.fed >= self.n_files:
            raise RuntimeError("stream_chunks ran out of input files")
        try:
            self._feed()
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            return 1, 1
        return 1, 0

    def warm_up(self) -> tuple[int, int]:
        """A few triggers, then their output rows against the batch twin."""
        failed = sum(self.iteration()[1] for _ in range(self.WARMUP_TRIGGERS))
        failed += _failed(self.reference_check)
        return self.WARMUP_TRIGGERS + 1, failed + self.end_phase()

    def reference_check(self) -> None:
        want = self._reference(sorted(set(self.batch_of.values()))).toPandas()
        got = self.spark.read.parquet(self.out).toPandas()
        same_rows("stream_feature_extract", got, want, [c for c in want.columns if c != "f"])

    def end_phase(self) -> int:
        """Every trigger's output against the batch twin's row count and
        checksum for the file it consumed."""
        if not self.batch_of:
            return 0
        ref = self._reference(sorted(set(self.batch_of.values())))
        cols = [c for c in ref.columns if c != "f"]
        want = {
            r["f"]: (r["n"], r["h"])
            for r in ref.groupBy("f").agg(*checksum_cols(ref.select(cols))).collect()
        }
        out = self.spark.read.parquet(self.out).where(
            F.col("batch_id").isin(list(self.batch_of))
        )
        got = {
            r["batch_id"]: (r["n"], r["h"])
            for r in out.groupBy("batch_id").agg(*checksum_cols(out.select(cols))).collect()
        }
        failed = 0
        for b, f in self.batch_of.items():
            if got.get(b) != want.get(f):
                failed += 1
                print(f"[perfbench] trigger {b} (file {f}): got {got.get(b)}, "
                      f"expected {want.get(f)}", file=sys.stderr)
        self.batch_of.clear()
        return failed

    def start_phase(self) -> None:
        self.progress = []

    def latencies_ms(self, walls: list[float]) -> list[float]:
        return [float(p["durationMs"]["triggerExecution"]) for p in self.progress]

    @classmethod
    def extra_units(cls) -> dict[str, str]:
        return {f"streaming.trigger.{k}": unit for k, (unit, _) in cls.TRIGGER_STATS.items()}

    def extra_layers(self) -> dict[str, float]:
        return {
            f"streaming.trigger.{k}": float(statistics.median(fn(p) for p in self.progress))
            for k, (_, fn) in self.TRIGGER_STATS.items()
        }

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()


WORKLOADS = {w.name: w for w in (TokenFeatures, PitEvents, CorpusSnapshot, StreamChunks)}
# the workloads BENCHMARK.json lists; the others are run by hand (README.md)
BENCHMARKED = ("corpus_snapshot", "stream_chunks")
